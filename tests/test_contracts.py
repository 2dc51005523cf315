"""Engine contracts from SURVEY §2.8: option validation and the custom
transformer hook (duplicate doc ids are the write-audit gate's check,
``tests/test_wap.py``)."""

import pytest
from pyspark.sql import functions as F

from mapbox_vector_tile_spark.engine import generator as G
from mapbox_vector_tile_spark.engine.encode import EncodeOptions
from mapbox_vector_tile_spark.engine.verify import transform_tokens


def test_unknown_codec_rejected():
    # analog of unknown-option rejection, utils.py:82-87
    with pytest.raises(ValueError, match="unknown codec"):
        EncodeOptions(codec="nope")


def test_unknown_option_rejected():
    with pytest.raises(TypeError):
        EncodeOptions(bogus=True)


def test_transform_tokens_affine(spark):
    df = G.corpus_dataframe(spark, 20, num_partitions=1)
    out = transform_tokens(df, 3, 7, 50263)
    rows = {r.doc_id: r for r in df.collect()}
    for r in out.collect():
        orig = rows[r.doc_id].tokens
        assert r.tokens == [((t * 3 + 7) % 50263 + 50263) % 50263 for t in orig]
        assert r.n_tok == len(orig)
