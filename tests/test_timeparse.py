"""P4 parity: timestamp parsing vs dateutil (the reference's parser)."""

from dateutil import parser as dparser
from pyspark.sql import functions as F

from itext2kg_spark.functions.timeparse import parse_timestamp_expr, parse_timestamp_array

CASES = [
    "2025-01-01",
    "2025-07-17 12:30:00",
    "2025-07-17T12:30:00",
    "July 17 2025",
    "March 3, 2024",
    "17 March 2024",
    "03/15/2025",
    "not a date",
    "",
]


def _dateutil_utc(v):
    from datetime import timezone

    try:
        dt = dparser.parse(v)
    except Exception:
        return None
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return dt.timestamp()


def test_scalar_parse_matches_dateutil(spark):
    df = spark.createDataFrame([(c,) for c in CASES], ["s"])
    got = {
        r["s"]: r["epoch"]
        for r in df.select("s", parse_timestamp_expr(F.col("s")).alias("epoch")).collect()
    }
    for c in CASES:
        expected = _dateutil_utc(c)
        assert got[c] == expected, f"{c!r}: {got[c]} != {expected}"


def test_array_parse_drops_unparseable(spark):
    df = spark.createDataFrame(
        [(["2025-01-01", "garbage", "July 17 2025"],)], ["a"]
    )
    row = df.select(parse_timestamp_array(F.col("a")).alias("p")).collect()[0]
    assert len(row["p"]) == 2
    assert row["p"][0] == _dateutil_utc("2025-01-01")
    assert row["p"][1] == _dateutil_utc("July 17 2025")


def test_array_parse_fuzzy_matches_dateutil(spark):
    """Fuzzy forms the Catalyst fast path can't parse must fall back to
    dateutil instead of being silently dropped (reference combine_timestamps,
    relationship.py:44-57, parses them); order preserved, garbage skipped."""
    arrays = [
        ["July 17th, 2025", "17.07.2025"],          # both dateutil-only
        ["2025-01-01", "July 17th, 2025", "nope"],  # mixed fast/fuzzy/garbage
        ["2025-01-01", "2025-02-02"],               # pure fast path (no UDF rows)
        [],
        None,
    ]
    df = spark.createDataFrame([(a,) for a in arrays], "a array<string>")
    got = [
        r["p"]
        for r in df.select(parse_timestamp_array(F.col("a")).alias("p")).collect()
    ]
    expected = [
        None if a is None else [e for e in map(_dateutil_utc, a) if e is not None]
        for a in arrays
    ]
    assert got == expected


def test_array_parse_no_fallback_flag(spark):
    # "1st of May 2020" stays dateutil-only (the ordinal fast format covers
    # attached suffixes, not "of"-joined forms), so with the fallback off it
    # must be dropped while the fast-path element survives
    df = spark.createDataFrame([(["1st of May 2020", "2025-01-01"],)], ["a"])
    row = df.select(
        parse_timestamp_array(F.col("a"), use_dateutil_fallback=False).alias("p")
    ).collect()[0]
    assert row["p"] == [_dateutil_utc("2025-01-01")]


def test_array_columns_variant_matches_expression_form(spark):
    """parse_timestamp_array_columns (clean/dirty row split, fast arrays
    materialized as columns) must be row-identical to the expression form
    across fast/fuzzy/garbage/empty/null shapes, on BOTH array columns,
    with the dateutil fallback on and off."""
    from itext2kg_spark.functions.timeparse import parse_timestamp_array_columns

    arrays = [
        ["July 17th, 2025", "17.07.2025"],
        ["2025-01-01", "July 17th, 2025", "nope"],
        ["2025-01-01", "2025-02-02"],
        [],
        None,
    ]
    rows = [(i, a, list(reversed(a)) if a else a) for i, a in enumerate(arrays)]
    df = spark.createDataFrame(rows, "id long, a array<string>, b array<string>")
    got = {
        r["id"]: (r["a"], r["b"])
        for r in parse_timestamp_array_columns(df, ["a", "b"]).collect()
    }
    exp = {
        r["id"]: (r["a"], r["b"])
        for r in df.select(
            "id",
            parse_timestamp_array(F.col("a")).alias("a"),
            parse_timestamp_array(F.col("b")).alias("b"),
        ).collect()
    }
    assert got == exp

    nf = {
        r["id"]: r["a"]
        for r in parse_timestamp_array_columns(
            df, ["a"], use_dateutil_fallback=False
        ).collect()
    }
    nf_exp = {
        r["id"]: r["a"]
        for r in df.select(
            "id",
            parse_timestamp_array(
                F.col("a"), use_dateutil_fallback=False
            ).alias("a"),
        ).collect()
    }
    assert nf == nf_exp


def test_fast_path_extensions_match_dateutil_exhaustively(spark):
    """The dotted-triple and ordinal-suffix fast formats (appended to
    _fast_parse so they only see strings the original list rejected) must
    agree with dateutil on EVERY string: exhaustive over all aa.bb.yyyy
    numeric triples and all month/day ordinal layouts, plus adversarial
    near-misses that must keep falling through to the (identical) dateutil
    fallback. Years 0 and 1-99 defer to dateutil too: it rejects year 0
    (datetime MINYEAR = 1) and moves some small years into the current
    century, where Spark's proleptic `yyyy` would keep them."""
    import itertools

    months = [
        "January", "February", "March", "April", "May", "June", "July",
        "August", "September", "October", "November", "December",
    ]
    cases = []
    for a, b in itertools.product(range(0, 32), repeat=2):
        cases += [f"{a:02d}.{b:02d}.2025", f"{a}.{b}.2025"]
    for a, b in itertools.product(range(0, 14), repeat=2):
        cases += [f"{a:02d}.{b:02d}.0000", f"{a:02d}.{b:02d}.0099"]
    for mon in months:
        for day in (1, 2, 3, 4, 11, 13, 21, 22, 23, 30, 31):
            suf = (
                "th"
                if 10 <= day % 100 <= 20
                else {1: "st", 2: "nd", 3: "rd"}.get(day % 10, "th")
            )
            cases += [
                f"{mon} {day}{suf}, 2025",
                f"{mon} {day}{suf} 2025",
                f"{day}{suf} {mon} 2025",
                f"{mon} {day}th, 2025",
                f"{mon.lower()} {day}{suf}, 2025",
                f"{mon} {day}{suf}, 0000",
                f"{day}{suf} {mon} 0000",
                f"{mon} {day} 0099",
            ]
    cases += [
        "1st of May 2020", "2024-01-03rd", "31.04.2025", "00.00.2025",
        "13.13.2025", "12.31.99", "05.07.25", "July 17 th, 2025",
        "July 17th", "17th July", "1.2.3", "10.10.10.10",
        "August 1st, 2024 12:30:00",
        "0000-01-01", "0000/01/01", "01/01/0000", "0001-01-01",
        "0099-05-05 10:00:00", "05/05/0050", "0100-01-01", "1 May 0000",
    ]
    df = spark.createDataFrame([(c,) for c in cases], ["s"])
    got = {
        r["s"]: r["e"]
        for r in df.select(
            "s", parse_timestamp_expr(F.col("s")).alias("e")
        ).collect()
    }
    for c in cases:
        assert got[c] == _dateutil_utc(c), f"{c!r}: {got[c]} != {_dateutil_utc(c)}"
