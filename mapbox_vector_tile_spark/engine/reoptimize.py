"""Re-optimize existing blocks: decode -> re-select -> re-encode smaller.

The Spark analog of the reference's ``optimise_tile``
(/root/reference/mapbox_vector_tile/optimise.py:205-226): a cost-based
physical rewrite of the *encoded form* — decode each block to its value
array, rerun codec selection (frequency-ordered dictionaries etc.), keep the
smaller encoding. Used when blocks were written with a forced/legacy codec,
or after appends changed chunk statistics. A pure map over blocks — no
shuffle — so it scales embarrassingly.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

import pyarrow as pa

from ..codec import blocks as B
from ..codec import select as S
from ..codec.analysis import ChunkAnalysis
from .decode import _read_rows
from .encode import _BLOCKS_ARROW_SCHEMA, BLOCKS_SPARK_SCHEMA


def reoptimize_blocks(blocks_df, validate: bool = False):
    """blocks DataFrame -> blocks DataFrame with minimal-size codecs.

    Keeps every manifest column; rewrites payload/codec/bytes_enc/checksum
    only where auto-selection beats the stored encoding. ``validate``
    round-trips every rewritten payload before swapping it in (decode-after-
    encode, the analog of the reference's post-optimise assert) and keeps the
    original on any mismatch.

    Every row is read through the checked row path first (payload CRC,
    decoded lengths against the stored counts), so a corrupt payload
    fails the rewrite instead of being re-encoded under a fresh checksum.
    """

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import numpy as np

        for batch in batches:
            cols = {name: batch.column(name).to_pylist() for name in
                    batch.schema.names if name != "doc_ids"}
            doc_ids = batch.column("doc_ids")
            rows = _read_rows([batch], True, flush=(0, 0))
            for i, (_, _, values, _) in enumerate(rows):
                an = ChunkAnalysis(values)
                cid = S.choose_codec(an.a, an)
                payload = B.encode_block(an.a, cid, an)
                if validate and not np.array_equal(
                    B.decode_block(payload), an.a
                ):
                    continue  # keep the original payload on mismatch
                if len(payload) < len(cols["payload"][i]):
                    cols["payload"][i] = payload
                    cols["codec_id"][i] = cid
                    cols["codec"][i] = B.CODEC_NAMES[cid]
                    cols["bytes_enc"][i] = len(payload)
                    cols["checksum"][i] = zlib.crc32(payload)
            arrays = [
                doc_ids if f.name == "doc_ids" else pa.array(cols[f.name], f.type)
                for f in _BLOCKS_ARROW_SCHEMA
            ]
            yield pa.RecordBatch.from_arrays(arrays, schema=_BLOCKS_ARROW_SCHEMA)

    return blocks_df.mapInArrow(fn, BLOCKS_SPARK_SCHEMA)
