"""CLI entry point mirroring the reference's run modes
(/root/reference/app/helpers/settings.py:10-49 defines `interactive` and
`daemon` subcommands taking --config/--use-cases; app/outliers.py:23-198
dispatches them). A user of the reference can point the same use-case INI
files at a parquet corpus:

    python -m ee_outliers_spark interactive \
        --use-cases 'use_cases/*.conf' \
        --data /data/sf0.1 [--table documents] [--key-col doc_id] \
        [--text-col text] [--index /data/index] [--results /data/outliers] \
        [--history-start 2024-01-01 --history-end 2024-02-01 --ts-col ts]

    python -m ee_outliers_spark daemon ... --schedule '0 0 * * *' \
        [--max-ticks N]

`--index` builds (resumably) / reuses a SPIMI positional index beside the
data and routes every es_query_filter through the posting lists
(config.run_analyzer(index=...)); without it filters compile to column
predicates + regex, which is fine for small corpora only. Before the run,
and before every daemon tick, the index takes in the table files it has not
recorded (streaming.daemon.catch_up), so the table must be append-only.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import sys


def _add_common(p: argparse.ArgumentParser) -> None:
    p.add_argument("--use-cases", required=True,
                   help="glob of use-case INI files (reference format)")
    p.add_argument("--data", required=True,
                   help="directory containing <table>.parquet")
    p.add_argument("--table", default="documents")
    p.add_argument("--key-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--ts-col", default=None)
    p.add_argument("--history-start", default=None)
    p.add_argument("--history-end", default=None)
    p.add_argument("--index", default=None,
                   help="SPIMI index dir (built resumably if absent)")
    p.add_argument("--results", default=None,
                   help="outlier store parquet dir (MERGE sink)")
    p.add_argument("--master", default=None)


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(prog="ee_outliers_spark")
    sub = ap.add_subparsers(dest="run_mode", required=True)
    interactive = sub.add_parser("interactive",
                                 help="run every enabled use case once")
    _add_common(interactive)
    daemon = sub.add_parser("daemon", help="cron loop (ref daemon mode)")
    _add_common(daemon)
    daemon.add_argument("--schedule", default="0 0 * * *")
    daemon.add_argument("--max-ticks", type=int, default=None)
    return ap


def main(argv: list[str] | None = None, spark=None) -> dict:
    args = build_parser().parse_args(argv)
    from .config import analysis_summary, load_use_cases, run_all, run_daemon
    from .session import get_spark

    if spark is None:
        spark = get_spark("ee-outliers-spark", master=args.master)
    specs = load_use_cases(args.use_cases)
    table = os.path.join(args.data, f"{args.table}.parquet")
    df = spark.read.parquet(table)

    index = None
    if args.index:
        from .index.build import build_segments
        from .streaming.daemon import catch_up

        index = build_segments(spark, df, args.key_col, args.text_col,
                               args.index, positions=True)
        catch_up(spark, df, index, args.key_col, args.text_col)

    def read_table():
        # each tick sees the table as it is now, and the index catches up
        # with it first, so a filter never answers from missing rows
        df = spark.read.parquet(table)
        if index is not None:
            catch_up(spark, df, index, args.key_col, args.text_col)
        return df

    store = None
    if args.results:
        from .sources.results import OutlierStore

        store = OutlierStore(spark, args.results)

    history = None
    if args.history_start and args.history_end:
        history = (dt.datetime.fromisoformat(args.history_start),
                   dt.datetime.fromisoformat(args.history_end))

    stats: list[dict] = []
    if args.run_mode == "daemon":
        stats = run_daemon(
            read_table, specs, schedule=args.schedule, max_ticks=args.max_ticks,
            store=store, key_col=args.key_col, text_col=args.text_col,
            ts_col=args.ts_col, history=history, index=index,
        )
    else:
        run_all(df, specs, store=store, key_col=args.key_col,
                text_col=args.text_col, ts_col=args.ts_col, history=history,
                stats=stats, index=index)
    summary = analysis_summary(stats)
    print(json.dumps(summary))
    return summary


if __name__ == "__main__":
    main(sys.argv[1:])
