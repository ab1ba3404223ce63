"""Source/sink coverage: JSONL roundtrip, partitioned parquet sink,
bucketed co-located join (shuffle-free SMJ)."""

from __future__ import annotations

import contextlib
import csv
import glob
import gzip
import io
import os
import re
import shutil
import tempfile

from pyspark.sql import functions as F

from citegraph_spark.sources.jsonl import read_jsonl, write_jsonl
from citegraph_spark.sources.sinks import save_parquet

SF_DIR = "/root/testdata/sf0.001"


def test_jsonl_roundtrip(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    with tempfile.TemporaryDirectory() as d:
        write_jsonl(docs, f"{d}/docs")
        back = read_jsonl(spark, f"{d}/docs", docs.schema)
        assert back.count() == docs.count()
        a = {r["doc_id"]: r["text"] for r in docs.collect()}
        b = {r["doc_id"]: r["text"] for r in back.collect()}
        assert a == b


def test_partitioned_parquet_sink(spark):
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").withColumn(
        "year", F.year("o_orderdate")
    )
    with tempfile.TemporaryDirectory() as d:
        save_parquet(orders, f"{d}/orders", partition_by=["year"])
        years = {e.split("=")[1] for e in os.listdir(f"{d}/orders") if e.startswith("year=")}
        assert len(years) >= 2
        # partition pruning: a year filter must prune to one directory
        back = spark.read.parquet(f"{d}/orders")
        one = back.filter(F.col("year") == sorted(years)[0])
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            one.explain("formatted")
        assert "PartitionFilters: [isnotnull(year" in buf.getvalue()


def test_bucketed_join_has_no_shuffle(spark):
    """Bucketing both sides on the join key pre-shuffles at write time:
    the join plans as SortMergeJoin with NO Exchange — the co-located
    join strategy for repeatedly-joined 100 TB tables."""
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    d = tempfile.mkdtemp()
    try:
        for name, df, key in (("t_li", li, "l_orderkey"), ("t_o", o, "o_orderkey")):
            (
                df.write.mode("overwrite")
                .option("path", f"{d}/{name}")
                .bucketBy(8, key)
                .sortBy(key)
                .saveAsTable(name)
            )
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = spark.table("t_li").join(
                spark.table("t_o"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                j.explain("formatted")
            plan = buf.getvalue()
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan, "bucketed join still shuffles"
            assert j.count() == li.count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        for name in ("t_li", "t_o"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(d, ignore_errors=True)


def test_orc_roundtrip_and_pushdown(spark):
    from citegraph_spark.sources.orc import read_orc, write_orc

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    with tempfile.TemporaryDirectory() as d:
        write_orc(orders, f"{d}/orders")
        back = read_orc(spark, f"{d}/orders", orders.schema)
        assert back.count() == orders.count()
        a = {r["o_orderkey"]: r["o_totalprice"] for r in orders.collect()}
        b = {r["o_orderkey"]: r["o_totalprice"] for r in back.collect()}
        assert a == b
        # filter + projection must reach the ORC scan
        q = back.filter(F.col("o_orderstatus") == "F").select("o_orderkey")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            q.explain("formatted")
        p = buf.getvalue()
        assert "EqualTo(o_orderstatus,F)" in p, "filter not pushed to ORC"
        scan = p[p.index("Scan orc") :]
        rs = scan[scan.index("ReadSchema") : scan.index("\n", scan.index("ReadSchema"))]
        assert "o_totalprice" not in rs, "projection not pruned at ORC scan"


def test_orc_partitioned_write(spark):
    from citegraph_spark.sources.orc import read_orc, write_orc

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").withColumn(
        "year", F.year("o_orderdate")
    )
    with tempfile.TemporaryDirectory() as d:
        write_orc(orders, f"{d}/orders", partition_by=["year"])
        years = {e.split("=")[1] for e in os.listdir(f"{d}/orders") if e.startswith("year=")}
        assert len(years) >= 2
        back = read_orc(spark, f"{d}/orders")
        assert back.count() == orders.count()


def test_sorted_parquet_files_cover_disjoint_key_ranges(spark):
    from citegraph_spark.sources.sinks import save_sorted_parquet

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    with tempfile.TemporaryDirectory() as d:
        save_sorted_parquet(orders, f"{d}/orders", ["o_orderkey"], target_partitions=4)

        import pyarrow.parquet as pq

        ranges = []
        for f in sorted(os.listdir(f"{d}/orders")):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(f"{d}/orders/{f}").metadata
            idx = md.schema.names.index("o_orderkey")
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                mins.append(st.min)
                maxs.append(st.max)
                assert st.has_min_max
            ranges.append((min(mins), max(maxs)))
        assert len(ranges) >= 2, "expected multiple range-partitioned files"
        # files cover pairwise-disjoint key ranges -> min/max file pruning works
        for lo, hi in sorted(ranges):
            for lo2, hi2 in ranges:
                if (lo, hi) != (lo2, hi2):
                    assert hi < lo2 or hi2 < lo, f"overlap: {(lo, hi)} vs {(lo2, hi2)}"

        back = spark.read.parquet(f"{d}/orders")
        assert back.count() == orders.count()


def test_compact_small_files_preserves_data(spark):
    from citegraph_spark.sources.sinks import compact_small_files

    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    with tempfile.TemporaryDirectory() as d:
        # simulate a small-file mess: 32 shards of a small table
        events.repartition(32).write.mode("overwrite").parquet(f"{d}/ev")
        before = [f for f in os.listdir(f"{d}/ev") if f.endswith(".parquet")]
        assert len(before) == 32
        checksum_before = events.agg(
            F.count("*").alias("n"), F.sum(F.crc32(F.col("event_id").cast("string"))).alias("c")
        ).first()

        n_out = compact_small_files(spark, f"{d}/ev", target_file_bytes=128 << 20)

        after = [f for f in os.listdir(f"{d}/ev") if f.endswith(".parquet")]
        assert len(after) == n_out < len(before)
        back = spark.read.parquet(f"{d}/ev")
        checksum_after = back.agg(
            F.count("*").alias("n"), F.sum(F.crc32(F.col("event_id").cast("string"))).alias("c")
        ).first()
        assert tuple(checksum_before) == tuple(checksum_after)


def test_upsert_parquet_latest_version_wins(spark):
    from citegraph_spark.sources.sinks import upsert_parquet

    with tempfile.TemporaryDirectory() as d:
        p = f"{d}/state"
        b1 = spark.createDataFrame(
            [(1, 1, "a"), (2, 1, "b"), (3, 1, "c")], "k int, v int, payload string"
        )
        upsert_parquet(spark, b1, p, ["k"], "v")
        # batch 2: update k=2, insert k=4, stale k=3 (v=0 must lose)
        b2 = spark.createDataFrame(
            [(2, 2, "B"), (4, 1, "d"), (3, 0, "stale")], "k int, v int, payload string"
        )
        upsert_parquet(spark, b2, p, ["k"], "v")
        got = {r["k"]: (r["v"], r["payload"]) for r in spark.read.parquet(p).collect()}
        assert got == {1: (1, "a"), 2: (2, "B"), 3: (1, "c"), 4: (1, "d")}


def test_custom_python_datasource_matches_column_loader(spark):
    from citegraph_spark.sources.citations import (
        load_citations,
        load_published_dates,
    )
    from citegraph_spark.sources.citations_datasource import CitationsDataSource

    spark.dataSource.register(CitationsDataSource)
    with tempfile.TemporaryDirectory() as d:
        # two shards -> two InputPartitions, plus comment/blank/malformed
        # lines and a cross-listed 9-digit id
        with open(f"{d}/cit", "w") as f:
            f.write("# comment\n2 1\n3 1\n\nbad row x\n4 2\n")
        with open(f"{d}/pub0.txt", "w") as f:
            f.write("# c\n1\t1992-01-01\n2\t1993-03-04\n")
        with open(f"{d}/pub1.txt", "w") as f:
            f.write("110000042\t1994-05-06\n3\t1993-07-08\n")
        os.makedirs(f"{d}/pubdir")
        os.rename(f"{d}/pub0.txt", f"{d}/pubdir/pub0.txt")
        os.rename(f"{d}/pub1.txt", f"{d}/pubdir/pub1.txt")

        ds_cit = {
            (r["from"], r["to"])
            for r in spark.read.format("citations").load(f"{d}/cit").collect()
        }
        col_cit = {
            (r["from"], r["to"]) for r in load_citations(spark, f"{d}/cit").collect()
        }
        assert ds_cit == col_cit == {(2, 1), (3, 1), (4, 2)}

        ds_pub = {
            (r["id"], r["year"])
            for r in spark.read.format("citations")
            .option("kind", "published")
            .load(f"{d}/pubdir")
            .collect()
        }
        # 110000042 -> 42 (9-digit 11-prefix normalization)
        assert ds_pub == {(1, 1992), (2, 1993), (42, 1994), (3, 1993)}
        col_pub = {
            (r["id"], r["year"])
            for r in load_published_dates(spark, f"{d}/pubdir/*.txt").collect()
        }
        assert ds_pub == col_pub

        n_parts = (
            spark.read.format("citations")
            .option("kind", "published")
            .load(f"{d}/pubdir")
            .rdd.getNumPartitions()
        )
        assert n_parts == 2, "one InputPartition per shard file"


def test_zorder_layout_gives_both_columns_locality(spark):
    from citegraph_spark.sources.sinks import save_sorted_parquet, zorder_key

    import pyarrow.parquet as pq

    # 64x64 grid: z-order bounds BOTH x and y ranges per file; a plain
    # x-sort leaves y spanning the full domain in every file. Compare the
    # two layouts rather than assert absolute spans — repartitionByRange
    # samples split points, so a file may straddle one quadrant border.
    grid = spark.range(64 * 64).select(
        (F.col("id") % 64).cast("int").alias("x"),
        (F.col("id") / 64).cast("int").alias("y"),
    )

    def spans(path):
        out = []
        for f in os.listdir(path):
            if f.endswith(".parquet"):
                t = pq.read_table(os.path.join(path, f), columns=["x", "y"])
                xs, ys = t["x"].to_pylist(), t["y"].to_pylist()
                out.append((max(xs) - min(xs), max(ys) - min(ys)))
        return out

    with tempfile.TemporaryDirectory() as d:
        df = grid.withColumn("zkey", zorder_key(F.col("x"), F.col("y"), bits=6))
        save_sorted_parquet(df, f"{d}/z", ["zkey"], target_partitions=4)
        save_sorted_parquet(grid, f"{d}/xsort", ["x"], target_partitions=4)
        z, xs = spans(f"{d}/z"), spans(f"{d}/xsort")
        assert len(z) >= 2 and len(xs) >= 2
        # x-sort: every file spans the full y domain
        mean = lambda v: sum(v) / len(v)
        mean_y_xsort = mean([sy for _, sy in xs])
        mean_y_z = mean([sy for _, sy in z])
        mean_x_z = mean([sx for sx, _ in z])
        assert mean_y_xsort >= 60, "x-sorted baseline should span y fully"
        # z-order: both dimensions bounded well below the full domain on
        # average, and y locality strictly beats the x-sorted layout
        assert mean_y_z < 0.8 * mean_y_xsort, (z, xs)
        assert mean_x_z <= 48, z


def test_dynamic_partition_overwrite_touches_only_incoming(spark, tmp_path):
    from citegraph_spark.sources.sinks import overwrite_partitions_dynamic

    path = str(tmp_path / "dpo")
    base = spark.createDataFrame(
        [("2025-01-01", 1, 10.0), ("2025-01-02", 2, 20.0), ("2025-01-03", 3, 30.0)],
        "day string, k int, v double",
    )
    overwrite_partitions_dynamic(base, path, ["day"])

    # refresh day 2 only, with different content
    patch = spark.createDataFrame(
        [("2025-01-02", 99, 99.9)], "day string, k int, v double"
    )
    overwrite_partitions_dynamic(patch, path, ["day"])

    # partition-column inference reads `day` back as a date; normalize
    got = {
        (str(r["day"]), r["k"], r["v"]) for r in spark.read.parquet(path).collect()
    }
    assert got == {
        ("2025-01-01", 1, 10.0),
        ("2025-01-02", 99, 99.9),  # replaced
        ("2025-01-03", 3, 30.0),  # untouched
    }


def test_incremental_rollup_refresh_matches_full_recompute(spark, tmp_path):
    """Refreshing one day must (a) bit-match a full recompute for that
    day, (b) leave every other partition untouched."""
    from citegraph_spark.sources.sinks import (
        daily_event_rollup,
        overwrite_partitions_dynamic,
        refresh_rollup_days,
    )

    from citegraph_spark.sources.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    path = str(tmp_path / "rollup")

    # initial build from STALE data (one day truncated), full-table write
    stale_day = "2024-01-05"
    stale = ev.filter(
        ~((F.to_date("ts").cast("string") == stale_day) & (F.col("value") > 50))
    )
    overwrite_partitions_dynamic(daily_event_rollup(stale), path, ["day"])

    before = {
        (str(r["day"]), r["event_type"]): (r["n"], r["value_sum"])
        for r in spark.read.parquet(path).collect()
    }

    # late data arrives for the stale day -> refresh only that partition
    refresh_rollup_days(ev, path, [stale_day])

    after = {
        (str(r["day"]), r["event_type"]): (r["n"], r["value_sum"])
        for r in spark.read.parquet(path).collect()
    }
    expected = {
        (str(r["day"]), r["event_type"]): (r["n"], r["value_sum"])
        for r in daily_event_rollup(ev).collect()
    }
    for key, val in after.items():
        if key[0] == stale_day:
            assert val == expected[key]          # refreshed == full recompute
        else:
            assert val == before[key]            # untouched partitions identical
    assert any(k[0] == stale_day for k in after)
    assert {k for k in after if k[0] == stale_day} == {
        k for k in expected if k[0] == stale_day
    }


def test_citations_datasource_write_read_roundtrip(spark):
    """Custom DataSource WRITER: df.write.format('citations') emits the
    reference's text format via the two-phase temp-then-rename commit;
    reading it back through the same format recovers the rows exactly."""
    import tempfile as _tf

    from citegraph_spark.sources.citations_datasource import CitationsDataSource

    try:
        spark.dataSource.register(CitationsDataSource)
    except Exception:
        pass  # already registered in this session
    edges = spark.createDataFrame(
        [(2, 1), (3, 1), (4, 2), (5, 3)], "from int, to int"
    ).repartition(3)
    with _tf.TemporaryDirectory() as d:
        path = f"{d}/cit"
        edges.write.format("citations").mode("overwrite").save(path)
        parts = [f for f in os.listdir(path) if f.startswith("part-")]
        assert len(parts) >= 1 and not [
            f for f in os.listdir(path) if f.startswith("_tmp-")
        ]
        back = spark.read.format("citations").load(path)
        assert sorted((r["from"], r["to"]) for r in back.collect()) == [
            (2, 1), (3, 1), (4, 2), (5, 3),
        ]
        # overwrite replaces, never appends
        edges.limit(2).write.format("citations").mode("overwrite").save(path)
        assert spark.read.format("citations").load(path).count() == 2


def _two_tokens_reference(text: str, kind: str) -> list[tuple[int, int]]:
    """The loaders' rule in Python: lines end at LF or CRLF; drop lines
    with `#` or blank after Spark's `trim` (spaces only); split on Java's
    ASCII whitespace runs; keep the first two tokens when both cast to int (the
    published loader: the id, normalized, and the date's first 4 chars)."""
    out = []
    for line in re.split(r"\r?\n", text):
        s = line.strip(" ")
        if "#" in line or not s:
            continue
        toks = re.split(r"[ \t\n\x0b\f\r]+", s)
        if len(toks) < 2 or not all(re.fullmatch(r"[0-9]+", t) for t in (toks[0], toks[1][:4])):
            continue
        a, b = toks[0], toks[1]
        if kind == "published":
            out.append((int(a[2:] if len(a) == 9 and a.startswith("11") else a), int(b[:4])))
        else:
            out.append((int(a), int(b)))
    return sorted(out)


def test_citation_loaders_drop_one_token_and_malformed_lines(spark, tmp_path):
    """Both text loaders, and the `citations` DataSource, drop what they
    cannot parse instead of failing the job: a one-token line (no second
    field; `element_at` would throw under ANSI mode), a tab-led line
    (empty first token), non-numeric tokens and a token with invalid
    UTF-8, next to good rows that must survive, CRLF, multi-space,
    trailing-tab lines and invalid UTF-8 after the second token among
    them. Each matches a Python reference of the tokenizing rule, on the
    plain file and on a gzip copy of it."""
    from citegraph_spark.sources.citations import (
        load_citations,
        load_published_dates,
    )
    from citegraph_spark.sources.citations_datasource import CitationsDataSource

    spark.dataSource.register(CitationsDataSource)

    def plain_and_gz(name: str, data: bytes) -> list[str]:
        (tmp_path / name).write_bytes(data)
        (tmp_path / f"{name}.gz").write_bytes(gzip.compress(data))
        return [str(tmp_path / name), str(tmp_path / f"{name}.gz")]

    cit_bytes = (
        b"# c\n2 1\n3\n\t4 2\nx 1\n5 y\n6 3\n7 4\r\n8   5\n9 6\t\n \t10 7\n11\t \t8\n"
        b"\xff 3\n12 \xc3\x28\n13 9 \xfe\xff\n"
    )
    want = [(2, 1), (6, 3), (7, 4), (8, 5), (9, 6), (11, 8), (13, 9)]
    assert _two_tokens_reference(cit_bytes.decode("utf-8", "replace"), "citations") == want
    for path in plain_and_gz("citations.txt", cit_bytes):
        for df in (
            load_citations(spark, path),
            spark.read.format("citations").load(path),
        ):
            assert sorted((r["from"], r["to"]) for r in df.collect()) == want, path

    pub_bytes = (
        b"# c\n1\t1992-01-01\n5\n\t7\t1993-02-03\nab\t1994-01-01\n8\txyz\n9\t1995-05-06\n"
        b"10\t1996-01-01\r\n11   1997-01-01\n12\t1998-01-01\t\n\t13 1999-01-01\n"
        b"\xc3\x28\t2000-01-01\n14\t2001-01-01\xff\n"
    )
    want = [(1, 1992), (9, 1995), (10, 1996), (11, 1997), (12, 1998), (14, 2001)]
    assert _two_tokens_reference(pub_bytes.decode("utf-8", "replace"), "published") == want
    for path in plain_and_gz("published-dates.txt", pub_bytes):
        for df in (
            load_published_dates(spark, path),
            spark.read.format("citations").option("kind", "published").load(path),
        ):
            assert sorted((r["id"], r["year"]) for r in df.collect()) == want, path


def test_citation_loader_splits_a_small_file_over_every_task_slot(spark, tmp_path):
    """A file far below `spark.sql.files.openCostInBytes` (4 MB) but with
    more lines than task slots is parsed by `defaultParallelism` tasks,
    not by one, and no line is lost or read twice at a split boundary."""
    from citegraph_spark.sources.citations import load_citations

    slots = spark.sparkContext.defaultParallelism
    edges = [(i, i // 2) for i in range(2, 20_000)]
    path = tmp_path / "citations.txt"
    path.write_text("# from to\n" + "".join(f"{a} {b}\n" for a, b in edges))
    df = load_citations(spark, str(path))
    assert df.rdd.getNumPartitions() == slots
    assert sorted((r["from"], r["to"]) for r in df.collect()) == edges


def test_sorted_csv_sink_writes_rows_in_sort_order(spark, tmp_path):
    """`save_sorted_csv_single` writes one part file whose rows follow the
    sort column, from an input scattered over several partitions (a
    coalesce of the unsorted input would keep partition order)."""
    from citegraph_spark.sources.sinks import save_sorted_csv_single

    df = spark.range(0, 500, 1, 7).select(
        ((F.col("id") * 7919) % 500).alias("k"), F.col("id").alias("v")
    )
    ks = [r["k"] for r in df.collect()]
    assert ks != sorted(ks)
    save_sorted_csv_single(df, str(tmp_path / "out"), "k")
    (part,) = glob.glob(str(tmp_path / "out" / "part-*.csv"))
    with open(part, newline="") as fh:
        rows = list(csv.DictReader(fh))
    assert [int(r["k"]) for r in rows] == list(range(500))
    assert all(int(r["v"]) * 7919 % 500 == int(r["k"]) for r in rows)
