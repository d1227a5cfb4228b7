"""Cursor tests: the driver-side cursor order against Spark's
``orderBy``, keyset paging over repeated rows, the byte budget of held
rows, the bounded cursor map, and cursors that outlive their snapshot."""

import math
import random

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from tytodb_spark import engine as engine_mod
from tytodb_spark.engine import HELD_BYTES, MAX_CURSORS, PAGE_SIZE, Engine, sort_key, value_bytes


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, str(tmp_path / "wh"))


# One column per Spark type an ALBA type maps to (functions/tyto.py
# ALBA_TYPES), plus the array an external table can hold, every value
# nullable as in an external table. Small value domains force ties on
# the lead columns, so later columns decide too.
SCHEMA = T.StructType(
    [
        T.StructField("i", T.IntegerType()),
        T.StructField("b", T.LongType()),
        T.StructField("f", T.DoubleType()),
        T.StructField("o", T.BooleanType()),
        T.StructField("s", T.StringType()),
        T.StructField("y", T.BinaryType()),
        T.StructField("n", T.NullType()),
        T.StructField("a", T.ArrayType(T.DoubleType())),
    ]
)
DOMAINS = {
    "i": [None, -(2**31), -1, 0, 1, 2**31 - 1],
    "b": [None, -(2**63), -1, 0, 2**40, 2**63 - 1],
    "f": [None, -math.inf, -1.0, -0.0, 0.0, 1e-300, 1.0, math.inf, math.nan],
    "o": [None, False, True],
    "s": [None, "", "a", "ab", "Z", "é", "ß", "á", "日本", "\U0001f600"],
    "y": [None, b"", b"\x00", b"a", b"\x7f", b"\x80", b"\xff", b"\xff\x00"],
    "n": [None],
    "a": [None, [], [None], [None, 1.0], [-0.0], [0.0, 1.0], [1.0], [1.0, math.nan], [math.nan]],
}
COLUMNS = [f.name for f in SCHEMA.fields]


def _canon(v):
    """A row (or value) with the values Spark's order ties made
    comparable: ``-0.0`` as ``0.0`` and NaN as a string."""
    if isinstance(v, list):
        return [_canon(x) for x in v]
    if isinstance(v, tuple):
        return tuple(_canon(x) for x in v)
    if isinstance(v, float):
        return "nan" if math.isnan(v) else v + 0.0
    return bytes(v) if isinstance(v, bytearray) else v


def _spark_order(df):
    return [_canon(r) for r in df.orderBy(*df.columns).collect()]


def _driver_order(df):
    return [_canon(r) for r in sorted(df.collect(), key=sort_key(df.schema))]


row_st = st.tuples(*[st.sampled_from(DOMAINS[c]) for c in COLUMNS])


@settings(max_examples=20, deadline=None)
@given(st.lists(row_st, min_size=1, max_size=60), st.permutations(COLUMNS))
def test_driver_order_matches_spark_order_by(spark, rows, columns):
    df = spark.createDataFrame(rows, SCHEMA).select(*columns)
    assert _driver_order(df) == _spark_order(df)


def test_float_order_null_first_nan_last(spark):
    vals = [math.nan, 1.0, 0.0, None, -1.0, -0.0]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    want = [(None,), (-1.0,), (0.0,), (0.0,), (1.0,), ("nan",)]
    assert _spark_order(df) == want
    assert _driver_order(df) == want


def test_search_pages_external_table_in_spark_order(spark, tmp_path):
    """A SEARCH over an external table (NULLs allowed) pages its rows in
    Spark's all-columns ``orderBy`` order."""
    rng = random.Random(7)
    rows = [tuple(rng.choice(DOMAINS[c]) for c in COLUMNS) for _ in range(250)]
    df = spark.createDataFrame(rows, SCHEMA)
    eng = Engine(spark, str(tmp_path / "wh"), external_tables={"ext": df})
    res = eng.execute("SEARCH ON 'ext'")
    assert res.message == "250 rows, 3 pages"
    got = [_canon(tuple(r.values())) for r in res.rows()]
    for _ in range(2):
        got += [_canon(tuple(r.values())) for r in eng.execute(f"QYCNNXT '{res.query_id}'").rows()]
    assert got == _spark_order(df)


# -- keyset paging over repeated rows ----------------------------------------

REPEATS = {
    # each id three times: repeats straddle the boundaries after row 100
    # (rows 99/100 are both id 33) and after row 200 (both id 66)
    "thrice": [i // 3 for i in range(250)],
    "identical": [7] * 250,
}


@pytest.mark.parametrize("name", sorted(REPEATS))
def test_keyset_cursor_keeps_repeats_at_page_boundaries(spark, engine, name):
    ids = REPEATS[name]
    engine.execute("CREATE CONTAINER 'dups' [id] [INT]")
    engine.warehouse.append_df("dups", spark.createDataFrame([(i,) for i in ids], "id int"))
    cur = engine.search_keyset("SEARCH ON 'dups'")
    pages = [[r["id"] for r in cur.current().collect()]]
    for _ in range(2):
        pages.append([r["id"] for r in cur.next().collect()])
    assert [len(p) for p in pages] == [100, 100, 50]
    assert pages[0] + pages[1] + pages[2] == sorted(ids)
    assert [r["id"] for r in cur.next().collect()] == []
    assert [r["id"] for r in cur.prev().collect()] == pages[2]
    assert [r["id"] for r in cur.prev().collect()] == pages[1]
    assert [r["id"] for r in cur.prev().collect()] == pages[0]


def test_search_larger_than_cap_pages_through_keyset(spark, engine, monkeypatch):
    """A result past CAP rows pages through the keyset cursor, with the
    same replies as a result held on the driver."""
    ids = REPEATS["thrice"]
    engine.execute("CREATE CONTAINER 'dups' [id, s] [INT, SMALL-STRING]")
    # whole rows repeat three times, across both page boundaries
    engine.warehouse.append_df(
        "dups", spark.createDataFrame([(i, f"s{i % 2}") for i in ids], "id int, s string")
    )

    def replies():
        res = engine.execute("SEARCH ON 'dups'")
        out = [(res.message, res.rows())]
        for move in ("QYCNNXT", "QYCNNXT", "QYCNNXT", "QYCNPVS", "QYCNPVS", "QYCNPVS"):
            r = engine.execute(f"{move} '{res.query_id}'")
            out.append((r.message, r.rows()))
        return out

    held = replies()
    monkeypatch.setattr(engine_mod, "CAP", 150)
    assert replies() == held
    assert held[0][0] == "250 rows, 3 pages"
    assert [m for m, _ in held[1:]] == ["page 2/3", "page 3/3", "page 3/3", "page 2/3", "page 1/3", "page 1/3"]
    assert [r["id"] for _, rows in held[:3] for r in rows] == ids


# -- the byte budget of held rows ---------------------------------------------


def _replies(engine, search):
    res = engine.execute(search)
    out = [(res.message, res.rows())]
    for move in ("QYCNNXT", "QYCNNXT", "QYCNNXT", "QYCNPVS", "QYCNPVS"):
        r = engine.execute(f"{move} '{res.query_id}'")
        out.append((r.message, r.rows()))
    return res.query_id, out


def test_large_bytes_search_pages_through_keyset(spark, engine):
    """LARGE-BYTES values take up to 1 MB each, so far fewer than CAP
    rows fit the held budget: a 250-row SEARCH pages through the keyset
    cursor."""
    fits = HELD_BYTES // value_bytes(T.BinaryType(), 1_000_000)
    assert fits < 250
    engine.execute("CREATE CONTAINER 'blobs' [id, b] [INT, LARGE-BYTES]")
    rows = [(i, bytes([i % 256]) * (1_000_000 if i % 100 == 0 else 3)) for i in range(250)]
    engine.warehouse.append_df("blobs", spark.createDataFrame(rows, "id int, b binary"))
    qid, out = _replies(engine, "SEARCH ON 'blobs'")
    assert engine._cursors[qid].keyset is not None
    assert [m for m, _ in out] == ["250 rows, 3 pages", "page 2/3", "page 3/3", "page 3/3", "page 2/3", "page 1/3"]
    got = [(r["id"], bytes(r["b"])) for _, page in out[:3] for r in page]
    assert got == rows


def test_unbounded_column_is_measured(spark, engine, monkeypatch):
    """A TEXT column has no declared width: the SEARCH sizes its rows
    and holds them when they fit, else pages through the keyset cursor
    with the same replies."""
    engine.execute("CREATE CONTAINER 'notes' [id, t] [INT, TEXT]")
    rows = [(i, "é" * (i % 7)) for i in range(250)]
    engine.warehouse.append_df("notes", spark.createDataFrame(rows, "id int, t string"))
    qid, held = _replies(engine, "SEARCH ON 'notes'")
    assert engine._cursors[qid].held is not None
    empty = engine.execute("SEARCH ON 'notes' WHERE id < 0")
    assert empty.message == "0 rows, 1 pages"
    assert engine._cursors[empty.query_id].held == []
    monkeypatch.setattr(engine_mod, "HELD_BYTES", 10_000)
    qid, paged = _replies(engine, "SEARCH ON 'notes'")
    assert engine._cursors[qid].keyset is not None
    assert paged == held
    assert [(r["id"], r["t"]) for _, page in held[:3] for r in page] == rows


# -- cursor lifetime ----------------------------------------------------------


def test_cursor_map_evicts_least_recently_used(engine):
    engine.execute("CREATE CONTAINER 'one' [id] [INT]")
    engine.execute("CREATE ROW [id] [1] ON 'one'")
    engine.execute("COMMIT 'one'")
    qids = [engine.execute("SEARCH ON 'one'").query_id for _ in range(MAX_CURSORS + 1)]
    gone = engine.execute(f"QYCNNXT '{qids[0]}'")
    assert not gone.ok and gone.message == f"no such query {qids[0]!r}"
    assert all(engine.execute(f"QYCNPVS '{q}'").ok for q in qids[1:])
    # a page move counts as use: touching qids[1] leaves qids[2] the
    # least recently used
    engine.execute(f"QYCNNXT '{qids[1]}'")
    engine.execute("SEARCH ON 'one'")
    assert not engine.execute(f"QYCNNXT '{qids[2]}'").ok
    assert engine.execute(f"QYCNNXT '{qids[1]}'").ok


def test_cursor_outlives_retired_snapshot(engine):
    """Two COMMITs retire the snapshot a cursor was opened on; its pages
    are still the original ones."""
    engine.execute("CREATE CONTAINER 'nums' [id] [INT]")
    for i in range(250):
        engine.execute(f"CREATE ROW [id] [{i}] ON 'nums'")
    engine.execute("COMMIT 'nums'")
    opened = engine.warehouse._current_version("nums")
    res = engine.execute("SEARCH ON 'nums'")
    first = [r["id"] for r in res.rows()]
    for i in (1000, 1001):
        engine.execute(f"DELETE ROW ON 'nums' WHERE id < {PAGE_SIZE + 10}")
        engine.execute(f"CREATE ROW [id] [{i}] ON 'nums'")
        engine.execute("COMMIT 'nums'")
    assert opened not in engine.warehouse.versions("nums")
    second = [r["id"] for r in engine.execute(f"QYCNNXT '{res.query_id}'").rows()]
    assert second == list(range(PAGE_SIZE, 2 * PAGE_SIZE))
    back = [r["id"] for r in engine.execute(f"QYCNPVS '{res.query_id}'").rows()]
    assert back == first == list(range(PAGE_SIZE))


def test_keyset_cursor_outlives_retired_snapshot(engine, monkeypatch):
    """A cursor past CAP pins the snapshot it pages: two COMMITs do not
    retire it, its pages are the original ones, and closing the cursor
    retires it."""
    monkeypatch.setattr(engine_mod, "CAP", 150)
    engine.execute("CREATE CONTAINER 'nums' [id] [INT]")
    for i in range(250):
        engine.execute(f"CREATE ROW [id] [{i}] ON 'nums'")
    engine.execute("COMMIT 'nums'")
    opened = engine.warehouse._current_version("nums")
    res = engine.execute("SEARCH ON 'nums'")
    assert engine._cursors[res.query_id].keyset is not None
    for i in (1000, 1001):
        engine.execute(f"DELETE ROW ON 'nums' WHERE id < {PAGE_SIZE + 10}")
        engine.execute(f"CREATE ROW [id] [{i}] ON 'nums'")
        engine.execute("COMMIT 'nums'")
    assert opened in engine.warehouse.versions("nums")
    second = [r["id"] for r in engine.execute(f"QYCNNXT '{res.query_id}'").rows()]
    assert second == list(range(PAGE_SIZE, 2 * PAGE_SIZE))
    back = [r["id"] for r in engine.execute(f"QYCNPVS '{res.query_id}'").rows()]
    assert back == [r["id"] for r in res.rows()] == list(range(PAGE_SIZE))
    engine.execute(f"QYCNEXT '{res.query_id}'")
    assert opened not in engine.warehouse.versions("nums")


def test_evicted_keyset_cursor_releases_its_snapshot(engine, monkeypatch):
    monkeypatch.setattr(engine_mod, "CAP", 1)
    engine.execute("CREATE CONTAINER 'two' [id] [INT]")
    for i in range(2):
        engine.execute(f"CREATE ROW [id] [{i}] ON 'two'")
    engine.execute("COMMIT 'two'")
    opened = engine.warehouse._current_version("two")
    first = engine.execute("SEARCH ON 'two'").query_id
    for i in (2, 3):
        engine.execute(f"CREATE ROW [id] [{i}] ON 'two'")
        engine.execute("COMMIT 'two'")
    assert opened in engine.warehouse.versions("two")
    monkeypatch.setattr(engine_mod, "CAP", 100)  # the rest are held
    for _ in range(MAX_CURSORS):
        engine.execute("SEARCH ON 'two'")
    assert not engine.execute(f"QYCNNXT '{first}'").ok
    assert opened not in engine.warehouse.versions("two")
