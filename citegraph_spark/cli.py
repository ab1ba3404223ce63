"""CLI: `python -m citegraph_spark.cli <task> <input_dir> <output_dir>`.

Tasks: `density`, `diameter`. Fixes the reference's arg-parse defect
(SURVEY.md §3.3: its `--testing` 3-arg path always exits) with one
argparse parser; `--testing` is a flag, and any filesystem URI works
(the reference hard-required hdfs:// prefixes, Application.scala:34-36).

Input dir must contain `citations.txt` and `published-dates.txt`
(reference text formats); `nodepairs.csv` is optional — without it the
diameter denominator is computed from the BFS itself (the spec's d=20
definition, docs/PA1.pdf p.3).

`diameter` writes one exact hop-plot per published year's snapshot. When
both inputs and the CSRs of all years fit the broadcast budget
(`spark.sql.autoBroadcastJoinThreshold`), each input is read once and
every year's BFS runs in one job (`snapshot_pairs_by_distance`: 5 jobs
for a one-year graph, 15 for the 11 years of hep-th). Otherwise, and
with `--approx`, each year plans its own snapshot (`snapshot_edges`)
from the loader frames and runs its own hop-plot, re-parsing both
inputs.
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import functions as F


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="citegraph_spark")
    p.add_argument("task", choices=["density", "diameter"])
    p.add_argument("input_dir")
    p.add_argument("output_dir")
    p.add_argument("--testing", action="store_true", help="verbose debug output")
    p.add_argument("--max-d", type=int, default=20)
    p.add_argument(
        "--approx",
        action="store_true",
        help="diameter only: HyperBall sketch hop-plot (O(|V|*2^p) state "
        "instead of O(connected pairs) — the 100 TB path)",
    )
    p.add_argument("--hll-p", type=int, default=6, help="HyperBall precision (2^p registers)")
    args = p.parse_args(argv)

    from .operators.graph import (
        approx_hop_plot,
        density,
        hop_plot,
        hop_plot_df,
        hop_plot_rows,
        snapshot_edges,
        snapshot_pairs_by_distance,
    )
    from .session import get_spark
    from .sources import (
        load_citations,
        load_nodepairs,
        load_published_dates,
        save_sorted_csv_single,
    )

    spark = get_spark(app_name=f"citegraph_{args.task}")
    citations = load_citations(spark, f"{args.input_dir}/citations.txt")
    published = load_published_dates(spark, f"{args.input_dir}/published-dates.txt")

    if args.task == "density":
        result = density(citations, published)
        if args.testing:
            result.show()
        save_sorted_csv_single(result, f"{args.output_dir}/densities", "year")
        print(f"wrote {args.output_dir}/densities")
        return 0

    # diameter: per-year hop plots
    nodepairs = f"{args.input_dir}/nodepairs.csv"
    totals = {}
    if _exists(spark, nodepairs):
        totals = {
            r["year"]: r["total_pairs"]
            for r in load_nodepairs(spark, nodepairs).collect()
        }

    # every year's exact counts from one read of each input and one
    # kernel job within the broadcast budget; None above it, and then each
    # year plans its own snapshot
    counts = None if args.approx else snapshot_pairs_by_distance(
        citations, published, args.max_d
    )
    if counts is not None:
        years = list(counts)
    else:
        years = sorted(
            r["year"] for r in published.select("year").distinct().collect()
        )
    for year in years:
        if counts is not None:
            rows = hop_plot_rows(counts[year], total_pairs=totals.get(year))
        elif args.approx:
            rows = approx_hop_plot(
                snapshot_edges(citations, published, year),
                total_pairs=totals.get(year), max_d=args.max_d, p=args.hll_p,
            )
        else:
            rows = hop_plot(
                snapshot_edges(citations, published, year),
                total_pairs=totals.get(year), max_d=args.max_d,
            )
        if not rows:
            if args.testing:
                print(f"{year}: empty graph, skipped")
            continue
        df = hop_plot_df(spark, rows)
        if args.testing:
            df.show()
        save_sorted_csv_single(df, f"{args.output_dir}/diameter_{year}", "d")
        print(f"wrote {args.output_dir}/diameter_{year}")
    return 0


def _exists(spark, uri: str) -> bool:
    """Whether `uri` exists, asked of the Hadoop FileSystem of its scheme."""
    path = spark._jvm.org.apache.hadoop.fs.Path(uri)
    return path.getFileSystem(spark._jsc.hadoopConfiguration()).exists(path)


if __name__ == "__main__":
    sys.exit(main())
