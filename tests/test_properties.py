"""Property-based tests (hypothesis) for the nontrivial operator invariants —
a strengthening over the reference's example-based-only test strategy
(SURVEY.md §5)."""

from datetime import datetime, timedelta

import pytest
from hypothesis import given, settings, strategies as st

from ideafast_etl_spark.operators.grouping import _parse_cutoff, day_bucket
from ideafast_etl_spark.operators import dedup


TS = st.datetimes(
    min_value=datetime(2000, 1, 1), max_value=datetime(2030, 12, 31)
).map(lambda d: d.replace(microsecond=0))

CUTOFF = st.times().map(lambda t: t.replace(microsecond=0).strftime("%H:%M:%S"))


@pytest.fixture(scope="module")
def sp(spark):
    return spark


@given(ts=TS, cutoff=CUTOFF)
@settings(max_examples=10, deadline=None)
def test_day_bucket_invariants(sp, ts, cutoff):
    """Window always contains the record; width is 0 (midnight) or 1 day;
    bounds are midnight-aligned."""
    df = sp.createDataFrame([(ts,)], "t timestamp")
    start_c, end_c = day_bucket("t", cutoff)
    row = df.select(start_c.alias("s"), end_c.alias("e")).first()
    s, e = row["s"], row["e"]
    secs = _parse_cutoff(cutoff)
    assert s.time() == datetime.min.time() and e.time() == datetime.min.time()
    if secs == 0:
        assert s == e == datetime(ts.year, ts.month, ts.day)
    else:
        assert e - s == timedelta(days=1)
        # record falls inside [s@cutoff, e@cutoff)
        lo = s + timedelta(seconds=secs)
        hi = e + timedelta(seconds=secs)
        assert lo <= ts < hi


WORDS = st.lists(st.text(alphabet="abcdef", min_size=1, max_size=4), min_size=0, max_size=12)


@given(words=WORDS)
@settings(max_examples=10, deadline=None)
def test_shingle_rows_equals_array_shingles(sp, words):
    """The codegen row-stream shingling and the array-typed shingling agree."""
    text = " ".join(words)
    df = sp.createDataFrame([(1, text)], "doc_id long, text string")
    arr = set(dedup.with_shingles(df).first()["shingles"])
    rows = {r["shingle"] for r in dedup.shingle_rows(df).collect()}
    assert rows == arr
