"""A rewrite of the files behind the same path supersedes a stored frame.

Spark's cache matches plans by file path, so a frame left persisted over
the old files would serve its old rows to the new plan — to the store's
own rebuild and to any uncached query with the same subplan.  The store
unpersists the superseded frame before it builds the new one; these
tests compare post-rewrite contents with a build made after the whole
cache is dropped.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from transitdata_omm_cancellation_source_spark.caching import release_tracked
from transitdata_omm_cancellation_source_spark.functions import text as X
from transitdata_omm_cancellation_source_spark.functions.corpus import (
    doc_words_frame,
    planted_corpus,
)
from transitdata_omm_cancellation_source_spark.functions.wordhash_kernel import (
    with_word_hashes,
)
from transitdata_omm_cancellation_source_spark.operators.dedup_fuzzy import (
    _wh_of,
    _word_hash_frame,
)


def _write_docs(path: str, n: int) -> None:
    """(Re)write the corpus in place, as an outside producer would."""
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(n), pa.int64()),
                "text": [f"doc {i} alpha beta gamma delta {i * 7}" for i in range(n)],
            }
        ),
        path,
    )


def _rows(df) -> list:
    return sorted(tuple(map(str, r)) for r in df.collect())


def _rewrite_then_serve(spark, tmp_path, serve, fresh):
    path = str(tmp_path / "documents.parquet")
    release_tracked()
    _write_docs(path, 5)
    before = _rows(serve({"documents": spark.read.parquet(path)}))
    _write_docs(path, 9)
    after = _rows(serve({"documents": spark.read.parquet(path)}))
    release_tracked()
    spark.catalog.clearCache()
    expected = _rows(fresh(spark.read.parquet(path)))
    assert len(expected) > len(before)
    return after, expected


def test_doc_words_frame_serves_the_rewritten_corpus(spark, tmp_path):
    after, expected = _rewrite_then_serve(
        spark,
        tmp_path,
        doc_words_frame,
        lambda docs: with_word_hashes(
            docs.select("doc_id", X.words("text").alias("ws")), joined_col="jh"
        ),
    )
    assert after == expected


def test_family_frame_serves_the_rewritten_corpus(spark, tmp_path):
    after, expected = _rewrite_then_serve(
        spark,
        tmp_path,
        _word_hash_frame,
        lambda docs: _wh_of(planted_corpus(docs)),
    )
    assert after == expected
