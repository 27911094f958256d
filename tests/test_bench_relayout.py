"""bench.py's relayout step must be a pure physical-layout change: same
rows, same values, same logical column types — only row-group structure
differs. Runs entirely in DuckDB (no Spark session)."""

import os

import duckdb

from bench import relayout

SF_DIR = "/root/testdata/sf0.001"
# every sf0.001 table fits one 16 384-row group; sf0.01 lineitem spans four
SF_SPLIT_DIR = os.path.join(os.path.dirname(SF_DIR), "sf0.01")


def test_relayout_preserves_content():
    out, _ = relayout(SF_DIR)
    con = duckdb.connect()
    for t in (
        "region",
        "nation",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ):
        import os

        src = f"{SF_DIR}/{t}.parquet"
        dst = f"{out}/{t}.parquet"
        if os.path.isdir(dst):
            dst = f"{dst}/*.parquet"
        n_src, n_dst = (
            con.execute(
                f"SELECT (SELECT count(*) FROM read_parquet('{src}')),"
                f" (SELECT count(*) FROM read_parquet('{dst}'))"
            ).fetchone()
        )
        assert n_src == n_dst, t
        # order-insensitive full-content check
        diff = con.execute(
            f"SELECT count(*) FROM ("
            f"(SELECT * FROM read_parquet('{src}') EXCEPT ALL"
            f" SELECT * FROM read_parquet('{dst}'))"
            f" UNION ALL "
            f"(SELECT * FROM read_parquet('{dst}') EXCEPT ALL"
            f" SELECT * FROM read_parquet('{src}')))"
        ).fetchone()[0]
        assert diff == 0, t
        types_src = con.execute(
            f"DESCRIBE SELECT * FROM read_parquet('{src}')"
        ).fetchall()
        types_dst = con.execute(
            f"DESCRIBE SELECT * FROM read_parquet('{dst}')"
        ).fetchall()
        assert types_src == types_dst, t


def test_relayout_splits_for_parallel_scans():
    import filecmp

    import pyarrow.parquet as pq

    out, _ = relayout(SF_SPLIT_DIR)
    # documents/embeddings pass through byte-identical; relational tables
    # get 16 384-row groups
    for t in ("documents", "embeddings"):
        assert filecmp.cmp(
            f"{SF_SPLIT_DIR}/{t}.parquet", f"{out}/{t}.parquet", shallow=False
        ), t
    for t in ("lineitem", "orders", "events"):
        md = pq.ParquetFile(f"{out}/{t}.parquet").metadata
        assert md.num_row_groups == -(-md.num_rows // 16384), t
        assert all(
            md.row_group(i).num_rows == 16384 for i in range(md.num_row_groups - 1)
        ), t
    assert pq.ParquetFile(f"{out}/lineitem.parquet").metadata.num_row_groups > 1
