"""``bench.py``'s amplify mode (``SPARK_GRAFT_BENCH_AMPLIFY``) keeps
the documents table self-consistent: a perturbed replica's text is
longer than the original's, so its ``n_chars`` is recounted."""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def test_amplified_documents_keep_n_chars_equal_to_length(spark, tmp_path):
    texts = ["alpha beta gamma", "one", "größe straße ünd"]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([1, 2, 3], pa.int64()),
                "text": texts,
                "lang": ["en", "en", "de"],
                "source": ["a", "b", "c"],
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    out = bench._amplify_inputs(spark, str(tmp_path), 3)
    docs = spark.read.parquet(os.path.join(out, "documents.parquet"))
    rows = docs.select("doc_id", "text", "n_chars", F.length("text").alias("len")).collect()
    assert len(rows) == 9
    assert all(r.n_chars == r.len for r in rows)
    assert {r.text for r in rows if r.doc_id % 3 == 0} == set(texts)
    assert dict(docs.dtypes)["n_chars"] == "bigint"
