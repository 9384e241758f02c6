"""Streaming deduplication with BOUNDED state: a Bloom filter per
bucket as stream state.

Spark's ``dropDuplicates`` on a stream keeps every seen key in the
state store — unbounded growth on an unbounded stream. Holding a Bloom
filter instead caps state at O(n_bits) per bucket forever, trading
exactness for a quantified false-positive rate: a duplicate is ALWAYS
dropped (no false negatives), and a fresh row is wrongly dropped with
probability ~fpp (at-most-once emission per key). That is the right
trade for training-data ingest, where a lost row costs nothing and a
duplicate costs model quality.

Scale shape: rows are bucketed by ``xxhash64(key) % buckets`` so each
bucket owns an independent Bloom blob — state updates parallelize
across buckets exactly like a salted aggregation, and total state is
``buckets * n_bits / 8`` bytes regardless of stream length.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from tdigest_spark.sketch.bloom import BloomFilter

__all__ = ["streaming_bloom_dedup"]

_BLOOM_STATE_TYPE = T.StructType([T.StructField("bloom", T.BinaryType())])
_BUCKET = "__dd_bucket"


def streaming_bloom_dedup(
    stream: DataFrame,
    key_col: str,
    buckets: int = 16,
    n_bits: int = 1 << 22,
    n_hashes: int = 7,
) -> DataFrame:
    """Emit only first-seen rows (by ``key_col``) across the whole
    stream, deduplicating both within and across micro-batches.

    State is one Bloom blob per bucket; see module docstring for the
    exactness trade. Output schema == input schema.
    """
    in_fields = list(stream.schema.fields)
    cols = [f.name for f in in_fields]
    bucketed = stream.withColumn(
        _BUCKET, F.pmod(F.xxhash64(F.col(key_col).cast("string")), F.lit(buckets)).cast("int")
    )
    out_schema = T.StructType(in_fields)

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:  # not used (NoTimeout) — defensive
            state.remove()
            return
        if state.exists:
            bf = BloomFilter.from_bytes(bytes(state.get[0]))
        else:
            bf = BloomFilter(n_bits=n_bits, n_hashes=n_hashes)
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            keys = pdf[key_col].astype(str)
            seen_before = pd.Series(
                list(bf.might_contain(keys.to_numpy())), index=pdf.index
            )
            first_in_batch = ~keys.duplicated(keep="first")
            keep = ~seen_before & first_in_batch
            if first_in_batch.any():
                bf.add(keys[first_in_batch].to_numpy())
            out = pdf.loc[keep, cols]
            if len(out):
                yield out
        state.update((bf.to_bytes(),))

    return bucketed.groupBy(_BUCKET).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=_BLOOM_STATE_TYPE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
