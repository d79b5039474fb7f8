"""ZNG binary format: decodes the reference's OWN tutorial files
(docs/tutorials/*.zng) and checks them against the expected query
outputs published in docs/tutorials/zq.md; round-trips Spark
DataFrames through write_zng/read_zng."""

import os

import pytest
from pyspark.sql import functions as F

from zed_spark.sources.zng import (
    decode_zng,
    parse_zng,
    read_zng_fused,
    write_zng,
)

TUTORIALS = "/root/reference/docs/tutorials"

needs_ref = pytest.mark.skipif(
    not os.path.isdir(TUTORIALS), reason="reference tutorials absent"
)


@needs_ref
def test_prs_decode_counts():
    vals = parse_zng(open(f"{TUTORIALS}/prs.zng", "rb").read())
    assert len(vals) == 28  # per zq.md: PRs 1..30 minus two dropped
    nums = [v["number"] for v in vals]
    assert nums[:5] == [1, 2, 3, 5, 6]  # zq.md PR Report head
    assert nums[-5:] == [26, 27, 28, 29, 30]  # zq.md tail 5


@needs_ref
def test_prs_count_by_user():
    """zq.md: count() by user:=user.login | sort count desc."""
    from collections import Counter

    vals = parse_zng(open(f"{TUTORIALS}/prs.zng", "rb").read())
    counts = Counter(v["user"]["login"] for v in vals)
    assert counts == {
        "mattnibs": 10, "aswan": 7, "mccanne": 6, "nwt": 4, "henridf": 1
    }


@needs_ref
def test_prs_reviewers_union():
    """zq.md: over requested_reviewers | reviewers:=union(login)."""
    vals = parse_zng(open(f"{TUTORIALS}/prs.zng", "rb").read())
    logins = {
        r["login"] for v in vals for r in (v.get("requested_reviewers") or [])
    }
    assert logins == {
        "nwt", "aswan", "philrz", "henridf", "mccanne", "mattnibs", "mikesbrown"
    }


@needs_ref
def test_prs_created_at_is_time():
    from datetime import datetime

    vals = parse_zng(open(f"{TUTORIALS}/prs.zng", "rb").read())
    assert all(isinstance(v["created_at"], datetime) for v in vals)
    assert vals[0]["created_at"].strftime("%Y-%m-%dT%H:%M:%SZ") == "2019-11-11T19:50:46Z"


@needs_ref
def test_prs_spark_agg(spark):
    """The count-by-user aggregation run through Spark on the fused
    shape groups."""
    df = read_zng_fused(spark, f"{TUTORIALS}/prs.zng")
    got = {
        r["user"]: r["count"]
        for r in df.groupBy(F.col("user.login").alias("user"))
        .agg(F.count("*").alias("count"))
        .collect()
    }
    assert got == {"mattnibs": 10, "aswan": 7, "mccanne": 6, "nwt": 4, "henridf": 1}


@needs_ref
def test_github_files_decode():
    for name, n in [("github1.zng", 100), ("github2.zng", 1900)]:
        vals = parse_zng(open(f"{TUTORIALS}/{name}", "rb").read())
        assert len(vals) == n


def test_roundtrip_simple(spark, tmp_path):
    df = spark.createDataFrame(
        [
            (1, "a", 1.5, True, None),
            (2, "b", -2.25, False, "x"),
            (-3, None, None, None, "y"),
        ],
        "n long, s string, f double, b boolean, o string",
    )
    p = str(tmp_path / "t.zng")
    write_zng(df, p, single_file=True)
    back = read_zng_fused(spark, p)
    assert sorted(map(tuple, back.select(*df.columns).collect())) == sorted(
        map(tuple, df.collect())
    )


def test_roundtrip_nested_and_arrays(spark, tmp_path):
    df = spark.sql(
        """SELECT * FROM VALUES
          (1, named_struct('a', 10L, 'b', 'x'), array(1L, 2L, 3L), map('k', 1L)),
          (2, named_struct('a', 20L, 'b', 'y'), array(4L), map('m', 2L, 'a', 3L))
          AS t(id, rec, arr, mp)"""
    )
    p = str(tmp_path / "nested.zng")
    write_zng(df, p, single_file=True)
    back = read_zng_fused(spark, p)
    got = {r["id"]: r.asDict(recursive=True) for r in back.collect()}
    want = {r["id"]: r.asDict(recursive=True) for r in df.collect()}
    assert got == want


def test_roundtrip_partitioned(spark, tmp_path):
    from tests.conftest import SF_DIR
    from zed_spark.sources.readers import read_table

    cust = read_table(spark, SF_DIR, "customer").repartition(4)
    d = str(tmp_path / "cust_zng")
    write_zng(cust, d)
    assert len([f for f in os.listdir(d) if f.endswith(".zng")]) > 1
    back = read_zng_fused(spark, d)
    assert back.count() == cust.count()
    a = cust.agg(F.sum("c_acctbal")).collect()[0][0]
    b = back.agg(F.sum("c_acctbal")).collect()[0][0]
    assert abs(a - b) < 1e-6


def test_roundtrip_timestamps(spark, tmp_path):
    from tests.conftest import SF_DIR
    from zed_spark.sources.readers import read_table

    ev = read_table(spark, SF_DIR, "events").select("event_id", "ts").limit(20)
    p = str(tmp_path / "ev.zng")
    write_zng(ev, p, single_file=True)
    back = read_zng_fused(spark, p)
    want = {r["event_id"]: r["ts"] for r in ev.collect()}
    got = {r["event_id"]: r["ts"] for r in back.collect()}
    assert got == want


def test_read_any_dispatch(spark, tmp_path):
    from zed_spark.sources.readers import read_any

    df = spark.createDataFrame([(1, "x")], "n long, s string")
    p = str(tmp_path / "t.zng")
    write_zng(df, p, single_file=True)
    assert read_any(spark, p).collect()[0]["n"] == 1


# One LZ4-compressed values frame holding four string values
# "hello", then end-of-stream.  Uncompressed, each value is
# 19 06 68656c6c6f (type id 25 = string, tag = len+1, body), 28 bytes.
LZ4_FRAME = bytes.fromhex(
    "52"  # frame code: C bit 0x40 | values frame 0x10 | len low 4 bits 2
    "01"  # uvarint len >> 4: payload is 18 bytes
    "00"  # compression format 0 = LZ4 block
    "1c"  # uvarint uncompressed size 28
    "7c"  # token: 7 literals, match length 12+4
    "190668656c6c6f"  # literals: the first value
    "0700"  # match offset 7 (overlapping: copies 16 bytes from 7 back)
    "50"  # token: 5 literals, no match (last sequence)
    "68656c6c6f"
    "ff"  # end of stream
)


def test_lz4_pure_python():
    """The pure-Python LZ4 block decoder on a compressed frame with
    the C bit set and an overlapping back-reference match."""
    assert LZ4_FRAME[0] & 0x40
    assert list(decode_zng(LZ4_FRAME)) == ["hello"] * 4


def test_read_zng_job_count_independent_of_shapes(spark, tmp_path):
    """Mirror of test_read_zson_job_count_independent_of_shapes: the
    ZNG reader materializes every shape in ONE pass over a combined
    shape-tagged frame, so job count at read time does not grow with
    the number of shapes in the stream."""
    from zed_spark.sources.zng import encode_zng, read_zng
    from pyspark.sql import types as T

    def write(nshapes, name):
        p = tmp_path / name
        blob = b""
        for i in range(nshapes):
            schema = T.StructType([T.StructField(f"f{i}", T.LongType())])
            rows = [{f"f{i}": i}] * 3
            blob += encode_zng(rows, schema)
        p.write_bytes(blob)
        return str(p)

    sc = spark.sparkContext

    def jobs_during(path):
        start_ids = set(sc.statusTracker().getJobIdsForGroup() or [])
        out = read_zng(spark, path)
        end_ids = set(sc.statusTracker().getJobIdsForGroup() or [])
        return len(end_ids - start_ids), out

    n2, out2 = jobs_during(write(2, "two.zng"))
    n10, out10 = jobs_during(write(10, "ten.zng"))
    assert len(out2) == 2 and len(out10) == 10
    assert n10 == n2, f"jobs grew with shape count: {n2} -> {n10}"
    key7 = [s for s in out10 if "f7" in s][0]
    assert out10[key7].count() == 3


def test_lz4_port_bit_exact_against_reference_frames():
    """The pure-Python pierrec/lz4 v4 port must reproduce the
    reference writer's compressed frames BYTE-FOR-BYTE: every
    compressed frame in the reference-written docs/tutorials/*.zng
    files decompresses and recompresses to identical bytes (round-8;
    the original port diverged on the third-candidate hash insert)."""
    import os

    from zed_spark.sources.zng import _lz4_block, _lz4_block_compress

    def uvarint(b, i):
        shift = v = 0
        while True:
            c = b[i]
            i += 1
            v |= (c & 0x7F) << shift
            if not (c & 0x80):
                break
            shift += 7
        return v, i

    paths = [
        f"/root/reference/docs/tutorials/{n}.zng"
        for n in ("prs", "github1", "github2")
    ]
    paths = [p for p in paths if os.path.exists(p)]
    if not paths:
        import pytest as _p

        _p.skip("reference .zng fixtures unavailable")
    tot = ok = 0
    for path in paths:
        b = open(path, "rb").read()
        i = 0
        while i < len(b):
            code = b[i]
            if code == 0xFF:
                i += 1
                continue
            comp = bool(code & 0x40)
            lo = code & 0x0F
            v, j = uvarint(b, i + 1)
            size = (v << 4) | lo
            payload = b[j : j + size]
            i = j + size
            if not comp:
                continue
            usize, k = uvarint(payload, 1)
            raw = _lz4_block(payload[k:], usize)
            tot += 1
            ok += _lz4_block_compress(raw) == payload[k:]
    assert tot >= 10 and ok == tot, f"{ok}/{tot} frames byte-identical"


def test_babble_object_sizes_byte_exact():
    """ns-exact encode of the babble tables in pool order reproduces
    the reference lake's recorded object sizes exactly
    (lake/ztests/overlap.yaml 17073/17039, ls.yaml 33493)."""
    import os

    from pyspark.sql import types as T

    from zed_spark.sources.zng import encode_zng
    from zed_spark.sources.zson import parse_zson_typed

    base = "/root/reference/testdata"
    if not os.path.exists(f"{base}/babble.zson"):
        import pytest as _p

        _p.skip("babble fixtures unavailable")
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("s", T.StringType()),
            T.StructField("v", T.LongType()),
        ]
    )
    for name, want in [
        ("babble-split1", 17073),
        ("babble-split2", 17039),
        ("babble", 33493),
    ]:
        vals, _ = parse_zson_typed(
            open(f"{base}/{name}.zson").read(), time_ns=True
        )
        vals.sort(key=lambda d: d["ts"], reverse=True)
        got = len(encode_zng(vals, schema, compress=True))
        assert got == want, f"{name}: {got} != {want}"


def test_zigzag_reference_vectors():
    """zcode/counted.go zigzag: i>=0 -> 2i; i<0 -> uint64(-i)<<1|1,
    MinInt64 wraps to code 1. NOT protobuf zigzag (-1 -> 1); the
    reference maps -1 -> 3. A protobuf-style codec here misreads
    every negative int in reference-produced ZNG by one."""
    from zed_spark.sources.zng import _zigzag, _zigzag_enc

    vectors = {0: 0, 1: 2, -1: 3, 2: 4, -2: 5, -(1 << 63): 1}
    for v, code in vectors.items():
        assert _zigzag_enc(v) == code, v
        assert _zigzag(code) == v, code
    for v in (8388609, -17792640, (1 << 63) - 1, -(1 << 62)):
        assert _zigzag(_zigzag_enc(v)) == v
