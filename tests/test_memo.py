"""Session memo (serverless_etl_aws_spark/memo.py): a memo entry must not
outlive the content it was built from.

Each test rewrites a table in place under a fixed ``sf_dir`` and asserts
that the next call rebuilds instead of serving the session's old entry.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from serverless_etl_aws_spark import schemas
from serverless_etl_aws_spark.catalog import load_table
from serverless_etl_aws_spark.queries import _util, llm


def test_fingerprint_covers_every_data_file(tmp_path):
    from serverless_etl_aws_spark import memo

    d = tmp_path / "t.parquet"
    (d / "k=1").mkdir(parents=True)
    (d / "k=1" / "part-0.parquet").write_bytes(b"x")
    (d / "_SUCCESS").write_bytes(b"")
    (d / ".part-0.parquet.crc").write_bytes(b"")
    root, files = memo.fingerprint(str(d))
    assert root == str(d)
    assert [f for f, _, _ in files] == [str(d / "k=1" / "part-0.parquet")]
    assert memo.fingerprint(str(tmp_path / "missing.parquet")) is None
    assert memo.fingerprint("s3a://bucket/t.parquet") is None


def test_key_without_fingerprint_bypasses_store():
    from serverless_etl_aws_spark import memo

    calls = []

    def build():
        calls.append(1)
        return len(calls)

    assert memo.cached(("t", None), build) == 1
    assert memo.cached(("t", None), build) == 2
    assert ("t", None) not in memo._STORE


def test_load_table_sees_in_place_rewrite_of_directory_table(spark, tmp_path):
    """A directory table rewritten in place, with the directory's own
    mtime restored afterwards, is a different table: the catalog memo
    must not serve the old relation, whose file listing names part
    files that no longer exist."""
    sf = tmp_path / "sf"
    table = str(sf / "nation.parquet")
    rows_a = [(1, "ALGERIA", 0), (2, "ARGENTINA", 1)]
    rows_b = [(7, "GERMANY", 3), (8, "INDIA", 2), (9, "JAPAN", 2)]

    def write(rows, mode):
        spark.createDataFrame(rows, schemas.NATION).coalesce(1).write.mode(
            mode
        ).parquet(table)

    def read():
        df = load_table(spark, str(sf), "nation")
        return sorted(tuple(r) for r in df.collect())

    write(rows_a, "errorifexists")
    assert read() == rows_a
    st = os.stat(table)
    write(rows_b, "overwrite")
    os.utime(table, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert read() == rows_b


def _write(path, table):
    pq.write_table(table, str(path))
    st = os.stat(path)
    # a distinct mtime even on filesystems with coarse timestamps
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))


def test_graph_edges_rebuild_after_lineitem_regeneration(spark, sf_dir, tmp_path):
    src = pq.read_table(os.path.join(sf_dir, "lineitem.parquet"))
    sf = str(tmp_path)
    path = tmp_path / "lineitem.parquet"
    _write(path, src.slice(0, 300))
    first = _util.co_order_part_adj(spark, sf)
    assert _util.co_order_part_adj(spark, sf) is first  # warm: memo hit
    n_first = first.count()

    _write(path, src.slice(300, 600))
    second = _util.co_order_part_adj(spark, sf)
    assert second is not first
    assert sorted(second.collect()) == sorted(
        _util.co_order_part_adj_plan(spark, sf).collect()
    )
    assert n_first == first.count()  # the old checkpoint is untouched


def test_bpe_train_rebuilds_after_documents_regeneration(spark, tmp_path):
    sf = str(tmp_path)
    path = tmp_path / "documents.parquet"

    def docs(text):
        return pa.table({
            "doc_id": pa.array([1, 2], pa.int64()),
            "text": [text, text],
            "lang": ["en", "en"],
            "source": ["s", "s"],
            "n_chars": pa.array([len(text)] * 2, pa.int64()),
        })

    def first_pair():
        r = llm.llm_bpe_train(spark, sf).orderBy("it").first()
        return r.pair_a, r.pair_b

    _write(path, docs("a b a b a b"))
    assert first_pair() == ("a", "b")
    _write(path, docs("c d c d c d"))
    assert first_pair() == ("c", "d")
