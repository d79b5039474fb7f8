"""Source readers: zeek TSV, line, csv/json round-trips."""

import textwrap

from pyspark.sql import types as T

from zed_spark.sources.readers import read_any, read_zeek_tsv

ZEEK_SAMPLE = textwrap.dedent(
    """\
    #separator \\x09
    #set_separator\t,
    #empty_field\t(empty)
    #unset_field\t-
    #path\tconn
    #fields\tts\tuid\tid.orig_h\tid.orig_p\tproto\tduration\torig_bytes\tlocal
    #types\ttime\tstring\taddr\tport\tenum\tinterval\tcount\tbool
    1521911721.255387\tC8Tful1TvM3Zf5x8fl\t10.164.94.120\t39681\ttcp\t0.000038\t0\tT
    1521911721.411148\tCXWfTK3LRdiuQxBbM6\t10.47.25.80\t50817\tudp\t-\t-\tF
    """
).replace("    ", "")


def test_zeek_reader(spark, tmp_path):
    p = tmp_path / "conn.log"
    p.write_text(ZEEK_SAMPLE)
    df = read_zeek_tsv(spark, str(p))
    # '#path conn' injects _path as the leading column, and dotted
    # zeek names nest into records (zeekio parser.go)
    assert df.columns == ["_path", "ts", "uid", "id",
                          "proto", "duration", "orig_bytes", "local"]
    assert [f.name for f in df.schema["id"].dataType.fields] == [
        "orig_h", "orig_p"
    ]
    assert df.first()["_path"] == "conn"
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)
    assert isinstance(
        df.schema["id"].dataType["orig_p"].dataType, T.IntegerType
    )
    rows = df.orderBy("ts").collect()
    assert rows[0]["id"]["orig_h"] == "10.164.94.120"
    assert rows[0]["local"] is True and rows[1]["local"] is False
    # unset '-' → null
    assert rows[1]["orig_bytes"] is None


def test_zeek_reader_custom_separator(spark, tmp_path):
    """'#separator' may declare a non-tab separator; the later header
    lines (and data) are split on the DECLARED separator."""
    sample = (
        "#separator ,\n"
        "#unset_field,-\n"
        "#fields,ts,proto,n\n"
        "#types,time,enum,count\n"
        "1521911721.255387,tcp,5\n"
        "1521911721.411148,udp,-\n"
    )
    p = tmp_path / "comma.log"
    p.write_text(sample)
    df = read_zeek_tsv(spark, str(p))
    assert df.columns == ["ts", "proto", "n"]
    rows = df.orderBy("ts").collect()
    assert rows[0]["proto"] == "tcp" and rows[0]["n"] == 5
    assert rows[1]["n"] is None


def test_line_reader(spark, tmp_path):
    p = tmp_path / "notes.txt"
    p.write_text("alpha\nbeta\n")
    df = read_any(spark, str(p), "line")
    assert sorted(r.value for r in df.collect()) == ["alpha", "beta"]


def test_csv_auto(spark, tmp_path):
    p = tmp_path / "t.csv"
    p.write_text("a,b\n1,x\n2,y\n")
    df = read_any(spark, str(p))
    assert df.count() == 2 and set(df.columns) == {"a", "b"}


def test_json_auto(spark, tmp_path):
    p = tmp_path / "t.json"
    p.write_text('{"a": 1}\n{"a": 2, "b": "x"}\n')
    df = read_any(spark, str(p))
    assert df.count() == 2 and set(df.columns) == {"a", "b"}


def test_zeek_write_roundtrip(spark, tmp_path):
    # distributed zeek sink: every part-file is a standalone log
    # (header + rows) that the reader reads back
    src = tmp_path / "in.log"
    src.write_text(
        "#separator \\x09\n"
        "#set_separator\t,\n"
        "#empty_field\t(empty)\n"
        "#unset_field\t-\n"
        "#path\tconn\n"
        "#fields\tts\tuid\tcnt\ttags\n"
        "#types\ttime\tstring\tcount\tset[string]\n"
        "10.000000\tC1\t5\tb,a\n"
        "11.500000\tC2\t-\t(empty)\n"
    )
    from zed_spark.sources.zeek import read_zeek_tsv, to_zeek_text, write_zeek

    df = read_zeek_tsv(spark, str(src))
    out = tmp_path / "out"
    write_zeek(df, str(out))
    back = read_zeek_tsv(spark, str(out))
    assert sorted(
        r.asDict(recursive=True).items().__str__() for r in back.collect()
    ) == sorted(r.asDict(recursive=True).items().__str__() for r in df.collect())
    # the driver-side formatter agrees with the reader's metadata
    text = to_zeek_text(df.orderBy("ts"))
    assert "#types\ttime\tstring\tcount\tset[string]" in text
    assert "10.000000\tC1\t5\ta,b" in text


def test_read_any_file_uri(spark, tmp_path):
    """read_any accepts URIs: sniffing + the Spark reader both route
    through the Hadoop path (file:// exercises what s3a:// would)."""
    from zed_spark.sources.readers import read_any

    src = spark.range(5).toDF("x")
    out = str(tmp_path / "d")
    src.write.parquet(out)
    df = read_any(spark, f"file://{out}")  # extension-less dir: sniffed
    assert df.count() == 5
    # s3:// normalization happens before the reader sees the path
    from zed_spark.sources import fsio

    assert fsio.normalize_uri(f"s3://b/x") == "s3a://b/x"


def test_text_formats_read_file_uri(spark, tmp_path):
    """The driver-side text readers enumerate + sniff through fsio,
    so zson/zeek/arrows inputs work from URIs too."""
    from zed_spark.sources.readers import read_any

    zf = tmp_path / "vals.zson"
    zf.write_text('{a:1,b:"x"}\n{a:2,b:"y"}\n')
    df = read_any(spark, f"file://{zf}")
    assert df.count() == 2 and set(df.columns) >= {"a", "b"}

    zk = tmp_path / "conn.log"
    hdr = [
        "#separator \\x09",
        "#set_separator\t,",
        "#empty_field\t(empty)",
        "#unset_field\t-",
        "#path\tconn",
        "#fields\tts\tuid",
        "#types\ttime\tstring",
        "1521911721.255387\tC8Tful1TvM3Zf5x8fl",
    ]
    zk.write_text("\n".join(hdr) + "\n")
    df = read_any(spark, f"file://{zk}", fmt="zeek")
    assert df.count() == 1


def test_executor_side_writers_accept_uris(spark, tmp_path):
    """zng/arrows part files open inside the executors through
    pyarrow.fs for URI paths (the reference writes every format
    through its scheme-routed storage engine, pkg/storage/s3.go:11-34).
    file:// rides pyarrow's LocalFileSystem — the exact code path
    s3:// takes in production — and the readers round-trip it."""
    from pyspark.sql import functions as F

    from zed_spark.sources.arrow_io import read_arrows, write_arrows
    from zed_spark.sources.zng import read_zng_fused, write_zng

    df = spark.range(10).select(
        F.col("id").alias("x"), (-F.col("id")).alias("neg")
    )
    zdir = f"file://{tmp_path}/out_zng"
    write_zng(df, zdir)
    back = read_zng_fused(spark, zdir)
    assert sorted((r["x"], r["neg"]) for r in back.collect()) == [
        (i, -i) for i in range(10)
    ]

    adir = f"file://{tmp_path}/out_arrows"
    write_arrows(df, adir)
    back = read_arrows(spark, adir)
    assert sorted((r["x"], r["neg"]) for r in back.collect()) == [
        (i, -i) for i in range(10)
    ]

    # single-file variants write through the same URI stream path
    zf = f"file://{tmp_path}/single.zng"
    write_zng(df, zf, single_file=True)
    assert read_zng_fused(spark, zf).count() == 10
    af = f"file://{tmp_path}/single.arrows"
    write_arrows(df, af, single_file=True)
    assert read_arrows(spark, af).count() == 10

    # unsupported schemes still fail fast at plan time, driver-side
    import pytest

    with pytest.raises(ValueError, match="no executor-side filesystem"):
        write_zng(df, "nosuchscheme://bucket/x")


def test_from_format_hint_reaches_the_reader(spark, tmp_path):
    """`from <path> format <fmt>` reads an extension-less-looking file
    with the named reader instead of sniffing it."""
    from zed_spark.session import ZedSession

    z = ZedSession(spark)
    csv = tmp_path / "t.dat"
    csv.write_text("a,b\n1,x\n2,y\n")
    js = tmp_path / "j.dat"
    js.write_text('{"a":3,"b":"z"}\n{"a":4,"b":"w"}\n')
    got = z.query(f"from {csv} format csv | sort a").df.collect()
    assert [(r["a"], r["b"]) for r in got] == [(1, "x"), (2, "y")]
    got = z.query(f"from {js} format json | sort a").df.collect()
    assert [(r["a"], r["b"]) for r in got] == [(3, "z"), (4, "w")]


def test_read_table_memoizes_schema_per_file(spark, tmp_path):
    """`read_table` infers a parquet schema once per file: a repeated
    read plans from the memo with no footer job, and a rewritten file
    (new size/mtime) infers again, replacing its path's one entry."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from zed_spark.sources import readers

    path = tmp_path / "docs.parquet"
    pq.write_table(pa.table({"doc_id": [1, 2], "text": ["a", "b"]}), path)
    sc = spark.sparkContext

    def jobs(fn):
        before = set(sc.statusTracker().getJobIdsForGroup() or [])
        out = fn()
        return out, len(set(sc.statusTracker().getJobIdsForGroup() or []) - before)

    first = readers.read_table(spark, str(tmp_path), "docs")
    again, n = jobs(lambda: readers.read_table(spark, str(tmp_path), "docs"))
    assert n == 0
    assert again.schema == first.schema
    assert sorted(again.collect()) == sorted(first.collect())

    pq.write_table(
        pa.table({"doc_id": [3], "text": ["c"], "lang": ["en"]}), path
    )
    df = readers.read_table(spark, str(tmp_path), "docs")
    assert df.columns == ["doc_id", "text", "lang"]
    assert [tuple(r) for r in df.collect()] == [(3, "c", "en")]
    assert [k for k in readers._SCHEMA_MEMO if k[1] == str(path)] == [
        (sc.applicationId, str(path))
    ]
