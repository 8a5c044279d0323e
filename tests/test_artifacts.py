"""Artifact keys resolve through ``fs``: the artifact-building queries
answer the same whether ``sf_dir`` is a plain path, a ``file://`` URI, or
a corpus whose large tables are directories of part files."""

import os

import pyarrow.parquet as pq

from tests.conftest import assert_matches_duckdb, rows_sorted

_QUERIES = (
    "q65_column_profile",
    "q75_incremental_dedup",
    "q158_triangle_count",
    "q178_cross_source_dup_matrix",
)


def _parts_corpus(src: str, dst: str) -> None:
    """Copy of the corpus at ``src`` where lineitem and documents are
    directories of three part files; every other table is a symlink."""
    os.makedirs(dst)
    for f in sorted(os.listdir(src)):
        if f not in ("lineitem.parquet", "documents.parquet"):
            os.symlink(os.path.join(src, f), os.path.join(dst, f))
            continue
        tbl = pq.read_table(os.path.join(src, f))
        os.makedirs(os.path.join(dst, f))
        step = -(-tbl.num_rows // 3)
        for i in range(3):
            pq.write_table(
                tbl.slice(i * step, step),
                os.path.join(dst, f, f"part-{i:05d}.parquet"),
            )


def test_uri_and_parts_corpus_match_plain_path(spark, sf_dir, duck, tmp_path):
    from parquery_spark.queries import QUERIES

    parts_dir = str(tmp_path / "parts")
    _parts_corpus(sf_dir, parts_dir)
    uri = "file://" + os.path.abspath(sf_dir)
    for name in _QUERIES:
        fn, oracle = QUERIES[name]
        plain = fn(spark, sf_dir).toArrow()
        assert_matches_duckdb(plain, duck, oracle)
        for other in (uri, parts_dir):
            got = fn(spark, other).toArrow()
            assert rows_sorted(got) == rows_sorted(plain), (name, other)
