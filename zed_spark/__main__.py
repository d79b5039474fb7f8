"""zq-style command line: run a zed query over files, print ZSON.

    python -m zed_spark 'where x > 1 | count() by y' data.zson
    python -m zed_spark -c 'cut a,b' a.parquet b.json
    cat data.zson | python -m zed_spark 'sort x' -
    python -m zed_spark -f parquet -o out/ 'where ok' in.zng

Mirrors the reference CLI's shape (cmd/zq; `super query -c ...`):
first positional is the query unless -c is given, remaining
positionals are input files ('-' = stdin), formats are sniffed from
extensions unless -i forces one, and output is ZSON lines on stdout
unless -f/-o say otherwise.
"""

from __future__ import annotations

import argparse
import sys


def _parse_args(argv):
    ap = argparse.ArgumentParser(
        prog="python -m zed_spark",
        description="Run a zed-language query on Spark.",
    )
    ap.add_argument("-c", dest="query", default=None, help="query text")
    ap.add_argument(
        "args",
        nargs="*",
        metavar="QUERY|FILE",
        help="query (when -c absent) then input files; '-' reads stdin",
    )
    ap.add_argument(
        "-i",
        dest="ifmt",
        default="auto",
        help="input format (auto|parquet|json|csv|tsv|line|zeek|zson|zjson|zng|arrows)",
    )
    ap.add_argument(
        "-f",
        dest="ofmt",
        default="zson",
        help="output format (zson|json|table|csv|parquet|text|arrows|zng)",
    )
    ap.add_argument("-z", action="store_true", help="ZSON output (the default)")
    ap.add_argument("-o", dest="out", default=None, help="output path (else stdout)")
    ap.add_argument("--lake", default=None, help="lake root for pool refs in `from`")
    ap.add_argument("--limit", type=int, default=None, help="cap printed rows")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = _parse_args(sys.argv[1:] if argv is None else argv)
    query = args.query
    files = list(args.args)
    if query is None:
        if not files:
            print("error: no query (pass it positionally or with -c)", file=sys.stderr)
            return 2
        query, files = files[0], files[1:]

    from zed_spark.session import ZedSession, build_spark

    spark = build_spark(app_name="zed_spark_cli")
    z = ZedSession(spark)

    df = None
    if files:
        from zed_spark.operators.fuse import fuse_dataframes
        from zed_spark.sources.readers import read_any

        parts = []
        for f in files:
            if f == "-":
                from zed_spark.sources.zson import parse_zson

                text = sys.stdin.read()
                vals = parse_zson(text)
                if vals:
                    rows = [
                        v if isinstance(v, dict) else {"this": v} for v in vals
                    ]
                    parts.append(spark.createDataFrame(rows))
            else:
                parts.append(read_any(spark, f, fmt=args.ifmt))
        if len(parts) == 1:
            df = parts[0]
        elif parts:
            df = fuse_dataframes(parts)

    if df is not None:
        from zed_spark.lang.compiler import compile_query

        def resolve(name, fmt=None, ordered=True):
            from zed_spark.sources.readers import read_any as _ra

            return _ra(spark, name, fmt=fmt or "auto")

        out = compile_query(spark, query, resolve, df)
    else:
        out = z.query(query, lake=args.lake).df

    if args.limit:
        out = out.limit(args.limit)

    if args.out:
        if args.ofmt == "zng":
            from zed_spark.sources.zng import write_zng

            write_zng(out, args.out, single_file=True)
        elif args.ofmt == "zson":
            from zed_spark.sources.zson import write_zson

            write_zson(out, args.out, single_file=True)
        else:
            from zed_spark.sources.sinks import write_any

            write_any(out, args.out, fmt=args.ofmt)
        return 0

    if args.ofmt == "table":
        from zed_spark.sources.sinks import to_table_string

        print(to_table_string(out, n=args.limit or 1000))
    elif args.ofmt == "json":
        for line in out.toJSON().toLocalIterator():
            print(line)
    elif out.columns in (["this"], ["value"]):
        # bare-value stream (yield of a scalar): print values, not
        # single-field records — matches the reference's output
        from zed_spark.sources.zson import _dump_value

        dt = out.schema[0].dataType
        for row in out.toLocalIterator():
            print(_dump_value(row[0], dt))
    else:  # zson lines (default)
        from zed_spark.sources.zson import df_to_zson_lines

        for line in df_to_zson_lines(out).toLocalIterator():
            print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
