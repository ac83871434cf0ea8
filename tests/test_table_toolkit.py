"""The commit-log helpers shared by the manifest-committed table keys in
sources/formats.py: ref resolution and the metadata writer."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from ex_aws_firehose_spark.sources.formats import (
    _REF_LOG_COLS,
    _resolve_refs,
    _write_meta,
)


def test_resolve_refs_latest_seq_then_higher_commit_id(spark, tmp_path):
    """The highest seq wins whatever its commit_id; a seq tie goes to
    the higher commit_id, whichever order the entries were written in.
    Rows come back sorted by ref_name."""
    path = str(tmp_path / "refs" / "reflog.parquet")
    _write_meta(
        path,
        _REF_LOG_COLS,
        [
            (0, "main", "branch", 0),
            (1, "main", "branch", 3),
            (1, "main", "branch", 1),  # seq tie: commit 3 wins
            (2, "audit", "branch", 1),
            (1, "audit", "branch", 4),  # older seq, higher commit: loses
            (0, "v1.0", "tag", 2),
        ],
    )
    got = [
        (r.ref_name, r.ref_type, r.seq, r.commit_id)
        for r in _resolve_refs(spark.read.parquet(path))
    ]
    assert got == [
        ("audit", "branch", 2, 1),
        ("main", "branch", 1, 3),
        ("v1.0", "tag", 0, 2),
    ]


def test_write_meta_keeps_declared_types(spark, tmp_path):
    """An all-NULL string column stays string (pyarrow would infer
    null), int64 stays int64, and an empty write still carries the
    schema; Spark reads the columns back as string and long."""
    cols = "commit_id int64, removes string"
    full = str(tmp_path / "m" / "commit-0.parquet")
    _write_meta(full, cols, [(0, None), (1, None)])
    empty = str(tmp_path / "e" / "commit-0.parquet")
    _write_meta(empty, cols, [])
    want = pa.schema([("commit_id", pa.int64()), ("removes", pa.string())])
    for path, n in ((full, 2), (empty, 0)):
        t = pq.read_table(path)
        assert t.schema.equals(want), t.schema
        assert t.num_rows == n
    assert pq.read_table(full).column("removes").null_count == 2
    df = spark.read.parquet(full)
    assert [(f.name, f.dataType.simpleString()) for f in df.schema] == [
        ("commit_id", "bigint"),
        ("removes", "string"),
    ]
    assert sorted(r.commit_id for r in df.collect()) == [0, 1]
