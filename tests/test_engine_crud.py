"""Transactional tests (SURVEY §5.5): stage→commit→read-back, rollback,
edit/delete copy-on-write, cursor paging over a 250-row result."""

import pytest

from tytodb_spark.engine import Engine, PAGE_SIZE


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, str(tmp_path / "wh"))


SCHEMA = "CREATE CONTAINER 'users' [id, name, score, ok] [INT, SMALL-STRING, FLOAT, BOOL]"


def test_create_insert_commit_search(engine):
    engine.execute(SCHEMA)
    engine.execute("CREATE ROW [id, name, score, ok] [1, 'ana', 9.5, true] ON 'users'")
    engine.execute("CREATE ROW [id, name] [2, 'bob'] ON 'users'")
    # staged rows visible before commit (MVCC overlay read)
    assert len(engine.execute("SEARCH ON 'users'").rows()) == 2
    engine.execute("COMMIT 'users'")
    rows = {r["id"]: r for r in engine.execute("SEARCH ON 'users'").rows()}
    assert rows[1]["name"] == "ana" and rows[1]["score"] == 9.5 and rows[1]["ok"] is True
    # zero-defaults for unset columns — not NULL (reference semantics)
    assert rows[2]["score"] == 0.0 and rows[2]["ok"] is False


def test_auto_commit_insert_durable(spark, tmp_path):
    """auto_commit commits each CREATE ROW immediately
    (src/database.rs:630-633): a FRESH engine over the same warehouse
    dir sees the rows without any explicit COMMIT, and ROLLBACK after
    the fact has nothing staged to discard."""
    wh = str(tmp_path / "wh")
    e1 = Engine(spark, wh, auto_commit=True)
    e1.execute(SCHEMA)
    r = e1.execute("CREATE ROW [id, name] [1, 'ana'] ON 'users'")
    assert "auto_commit" in r.message
    e1.execute("CREATE ROW [id, name] [2, 'bob'] ON 'users'")
    e1.execute("ROLLBACK 'users'")  # nothing staged — rows already durable
    e2 = Engine(spark, wh)
    assert sorted(r["id"] for r in e2.execute("SEARCH ON 'users'").rows()) == [1, 2]


def test_rollback_discards(engine):
    engine.execute(SCHEMA)
    engine.execute("CREATE ROW [id] [1] ON 'users'")
    engine.execute("ROLLBACK 'users'")
    assert engine.execute("SEARCH ON 'users'").rows() == []


def test_edit_where(engine):
    engine.execute(SCHEMA)
    for i in range(5):
        engine.execute(f"CREATE ROW [id, score] [{i}, {float(i)}] ON 'users'")
    engine.execute("COMMIT")
    engine.execute("EDIT ROW [score] [99.0] ON 'users' WHERE id >= 3")
    engine.execute("COMMIT 'users'")
    rows = {r["id"]: r["score"] for r in engine.execute("SEARCH ON 'users'").rows()}
    assert rows == {0: 0.0, 1: 1.0, 2: 2.0, 3: 99.0, 4: 99.0}


def test_delete_where(engine):
    engine.execute(SCHEMA)
    for i in range(5):
        engine.execute(f"CREATE ROW [id] [{i}] ON 'users'")
    engine.execute("COMMIT")
    engine.execute("DELETE ROW ON 'users' WHERE id < 2 OR id = 4")
    engine.execute("COMMIT")
    ids = sorted(r["id"] for r in engine.execute("SEARCH ON 'users'").rows())
    assert ids == [2, 3]


def test_delete_container(engine):
    engine.execute(SCHEMA)
    engine.execute("DELETE CONTAINER 'users'")
    with pytest.raises(KeyError):
        engine.execute("SEARCH ON 'users'")


def test_coercion_on_insert(engine):
    engine.execute(SCHEMA)
    # string→int, int→float, string→bool (implicit coercion matrix)
    engine.execute("CREATE ROW [id, score, ok] ['7', 3, 't'] ON 'users'")
    engine.execute("COMMIT")
    r = engine.execute("SEARCH ON 'users'").rows()[0]
    assert r["id"] == 7 and r["score"] == 3.0 and r["ok"] is True


def test_parameterized_insert_and_search(engine):
    engine.execute(SCHEMA)
    engine.execute("CREATE ROW [id, name] [?, ?] ON 'users'", args=["1", "'ana'"])
    engine.execute("COMMIT")
    res = engine.execute("SEARCH ON 'users' WHERE name = ?", args=["'ana'"])
    assert len(res.rows()) == 1


def test_cursor_paging_250_rows(engine):
    """250 rows → 3 pages of 100/100/50 (PAGE_SIZE, src/query.rs:9)."""
    engine.execute("CREATE CONTAINER 'nums' [id] [INT]")
    for i in range(250):
        engine.execute(f"CREATE ROW [id] [{i}] ON 'nums'")
    engine.execute("COMMIT")
    res = engine.execute("SEARCH ON 'nums'")
    assert len(res.rows()) == PAGE_SIZE
    qid = res.query_id
    p2 = engine.execute(f"QYCNNXT '{qid}'")
    assert len(p2.rows()) == 100
    p3 = engine.execute(f"QYCNNXT '{qid}'")
    rows3 = p3.rows()
    assert len(rows3) == 50
    # next past the end stays on the last page
    p3b = engine.execute(f"QYCNNXT '{qid}'")
    assert [r["id"] for r in p3b.rows()] == [r["id"] for r in rows3]
    back = engine.execute(f"QYCNPVS '{qid}'")
    assert len(back.rows()) == 100
    engine.execute(f"QYCNEXT '{qid}'")
    assert not engine.execute(f"QYCNNXT '{qid}'").ok


def test_keyset_cursor_matches_rownum_cursor(engine):
    """The keyset scale path (engine.keyset_page / KeysetCursor) must
    page IDENTICALLY to the reference-faithful row_number cursor over
    the same 250-row result: next/next, seek past the end, and prev
    all land on the same pages."""
    engine.execute("CREATE CONTAINER 'nums' [id] [INT]")
    for i in range(250):
        engine.execute(f"CREATE ROW [id] [{i}] ON 'nums'")
    engine.execute("COMMIT")

    cur = engine.search_keyset("SEARCH ON 'nums'")
    ids = lambda df: [r["id"] for r in df.collect()]  # noqa: E731
    p1 = ids(cur.current())
    assert p1 == sorted(p1) and len(p1) == 100
    p2 = ids(cur.next())
    assert len(p2) == 100 and p2[0] > p1[-1]
    p3 = ids(cur.next())
    assert len(p3) == 50 and p3[0] > p2[-1]
    assert sorted(p1 + p2 + p3) == list(range(250))
    # next past the end: boundary advances but the page is empty-safe
    p4 = ids(cur.next())
    assert p4 == []
    # prev re-seeks back through the boundary stack
    assert ids(cur.prev()) == p3
    assert ids(cur.prev()) == p2
    assert ids(cur.prev()) == p1
    assert ids(cur.prev()) == p1  # clamped at the first page

    # parity with the row_number cursor protocol on the same search
    res = engine.execute("SEARCH ON 'nums'")
    assert [r["id"] for r in res.rows()] == p1
    assert [r["id"] for r in engine.execute(f"QYCNNXT '{res.query_id}'").rows()] == p2


def test_union_and_subquery_sources(engine):
    engine.execute("CREATE CONTAINER 'a' [id] [INT]")
    engine.execute("CREATE CONTAINER 'b' [id] [INT]")
    for i in range(3):
        engine.execute(f"CREATE ROW [id] [{i}] ON 'a'")
        engine.execute(f"CREATE ROW [id] [{i + 10}] ON 'b'")
    engine.execute("COMMIT")
    res = engine.execute("SEARCH ON ['a', (SEARCH ON 'b' WHERE id <= 11)]")
    assert sorted(r["id"] for r in res.rows()) == [0, 1, 2, 10, 11]


def test_projection_intended_semantics(engine):
    engine.execute(SCHEMA)
    engine.execute("CREATE ROW [id, name] [1, 'ana'] ON 'users'")
    engine.execute("COMMIT")
    res = engine.execute("SEARCH [id, name] ON 'users'")
    assert set(res.rows()[0].keys()) == {"id", "name"}


def test_commit_is_per_container(engine):
    engine.execute("CREATE CONTAINER 'a' [id] [INT]")
    engine.execute("CREATE CONTAINER 'b' [id] [INT]")
    engine.execute("CREATE ROW [id] [1] ON 'a'")
    engine.execute("CREATE ROW [id] [2] ON 'b'")
    engine.execute("COMMIT 'a'")
    engine.execute("ROLLBACK 'b'")
    assert len(engine.execute("SEARCH ON 'a'").rows()) == 1
    assert engine.execute("SEARCH ON 'b'").rows() == []


def test_snapshot_swap_durability(spark, tmp_path):
    wh = str(tmp_path / "wh")
    e1 = Engine(spark, wh)
    e1.execute("CREATE CONTAINER 'a' [id] [INT]")
    e1.execute("CREATE ROW [id] [42] ON 'a'")
    e1.execute("COMMIT")
    # a fresh engine over the same directory sees committed data
    e2 = Engine(spark, wh)
    assert [r["id"] for r in e2.execute("SEARCH ON 'a'").rows()] == [42]


def test_versions_and_time_travel(engine):
    engine.execute(SCHEMA)
    engine.execute("CREATE ROW [id, name] [1, 'ana'] ON 'users'")
    engine.execute("COMMIT 'users'")
    engine.execute("CREATE ROW [id, name] [2, 'bob'] ON 'users'")
    engine.execute("COMMIT 'users'")
    wh = engine.warehouse
    vs = wh.versions("users")
    assert vs == [1, 2]  # v0 (empty) retired, previous retained
    assert wh.read_version("users", 1).count() == 1
    assert wh.read_version("users", 2).count() == 2
    with pytest.raises(KeyError):
        wh.read_version("users", 0)


def test_compact_single_file_and_same_rows(engine):
    engine.execute(SCHEMA)
    for i in range(20):
        engine.execute(f"CREATE ROW [id, score] [{i}, {float(i)}] ON 'users'")
    engine.execute("COMMIT 'users'")
    wh = engine.warehouse
    before = sorted(r["id"] for r in wh.read("users").collect())
    nfiles = wh.compact("users")
    assert nfiles == 1  # tiny table -> one file
    after = sorted(r["id"] for r in wh.read("users").collect())
    assert after == before
    assert wh.versions("users")[-1] == wh._current_version("users")


def test_compact_refuses_staged_ops(engine):
    engine.execute(SCHEMA)
    engine.execute("CREATE ROW [id] [1] ON 'users'")
    engine.execute("COMMIT 'users'")
    engine.execute("CREATE ROW [id] [2] ON 'users'")  # staged, uncommitted
    with pytest.raises(RuntimeError):
        engine.warehouse.compact("users")


def test_repl_envelopes(spark, tmp_path):
    """REPL response envelopes mirror the reference's TytoDBResponse
    {content, success} JSON (src/database.rs:1090-1096), errors included."""
    import json

    from tytodb_spark.repl import run_command

    eng = Engine(spark, str(tmp_path / "wh"))
    ok = json.loads(run_command(eng, SCHEMA))
    assert ok["success"] and "created" in ok["content"]["message"]
    run_command(eng, "CREATE ROW [id, name] [7, 'zoe'] ON 'users'")
    run_command(eng, "COMMIT 'users'")
    res = json.loads(
        run_command(eng, "SEARCH [id, name] ON ['users'] WHERE id = ?", ["7"])
    )
    assert res["success"]
    assert res["content"]["rows"] == [{"id": 7, "name": "zoe"}]
    assert "query_id" in res["content"]
    bad = json.loads(run_command(eng, "SEARCH ON ['nope_no_table']"))
    assert bad["success"] is False and bad["content"]["message"]


def test_max_columns_cap(engine):
    """Reference config knob max_columns=50 (src/database.rs:16-25):
    a 50-column container is fine, 51 is a DDL error."""
    cols50 = ", ".join(f"c{i}" for i in range(50))
    types50 = ", ".join("INT" for _ in range(50))
    r = engine.execute(f"CREATE CONTAINER 'wide50' [{cols50}] [{types50}]")
    assert r.ok, r.message
    cols51 = ", ".join(f"c{i}" for i in range(51))
    types51 = ", ".join("INT" for _ in range(51))
    with pytest.raises(ValueError, match="max_columns"):
        engine.execute(f"CREATE CONTAINER 'wide51' [{cols51}] [{types51}]")


def test_statements_compile_no_code(spark, engine):
    """SEARCHes and COMMITs with values not seen before compile no Java:
    the engine's session evaluates expressions interpreted (Spark would
    inline each literal into newly generated classes), and the caller's
    session keeps its own settings."""
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    engine.execute("CREATE CONTAINER 'n' [id, a] [BIGINT, INT]")
    for i in range(6):
        engine.execute("CREATE ROW [id, a] [?, ?] ON 'n'", [str(i), str(i * 7)])
    engine.execute("COMMIT 'n'")
    before = compiles.getCount()
    for k in (1, 2, 3):
        got = engine.execute("SEARCH ON 'n' WHERE id = ? OR a > ?", [str(k), str(20 + k)]).rows()
        assert got == [{"id": i, "a": i * 7} for i in range(6) if i == k or i * 7 > 20 + k]
    engine.execute("EDIT ROW [a] [?] ON 'n' WHERE id = ?", ["99", "4"])
    engine.execute("DELETE ROW ON 'n' WHERE id = ?", ["5"])
    engine.execute("COMMIT 'n'")
    assert engine.execute("SEARCH ON 'n' WHERE a > ?", ["30"]).rows() == [{"id": 4, "a": 99}]
    assert compiles.getCount() == before
    assert engine.spark is not spark
    assert spark.conf.get("spark.sql.codegen.wholeStage") == "true"


def test_snapshot_dataframe_reused_per_version(engine):
    """A committed snapshot's DataFrame is built once per version; a
    COMMIT, or a container dropped and created again, reads anew."""
    wh = engine.warehouse
    wh.create_table("t", [("k", "INT")])
    first = wh.read_committed("t")
    assert wh.read_committed("t") is first
    wh.stage_insert("t", ["k"], [1])
    wh.commit("t")
    assert wh.read_committed("t") is not first
    assert [r.k for r in wh.read_committed("t").collect()] == [1]
    assert wh.read_version("t", 0).count() == 0
    wh.drop_table("t")
    wh.create_table("t", [("k", "INT")])
    assert wh.read_committed("t").count() == 0
