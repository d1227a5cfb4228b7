"""COMMIT over snapshot manifests: commits append driver-written files
and edit/delete ops, and the commit past the cap rewrites the fold in
one Spark job; the manifest's literals and the fold's order, crash
recovery, concurrent writers, staging coercion and checks, and SEARCH
over several files in one Spark job."""

import json
import math
import os
import shutil
import sys
import threading
import uuid

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark import SparkContext

from tytodb_spark import engine as engine_mod
from tytodb_spark.engine import PAGE_SIZE, Engine
from tytodb_spark.functions.tyto import ALBA_TYPES
from tytodb_spark.storage import warehouse as wh_mod
from tytodb_spark.storage.warehouse import CURRENT, Warehouse


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, str(tmp_path / "wh"))


def _jobs(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` launches on this thread."""
    sc = spark.sparkContext
    group = f"test-commit-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def _files(wh: Warehouse, name: str) -> tuple[str, ...]:
    return wh._manifest(name, wh._current_version(name)).files


def _stats(wh: Warehouse, name: str) -> tuple[int, int, int, int]:
    """(version, files, committed ops, appended entries) of ``name``."""
    st = wh.stats(name)
    return st["version"], st["files"], st["ops"], st["appended"]


def _create_kv(engine, name="kv"):
    engine.execute(f"CREATE CONTAINER '{name}' [id, a] [BIGINT, INT]")


# -- what a commit writes ----------------------------------------------------


def test_insert_commit_runs_no_spark_job(spark, engine, monkeypatch):
    monkeypatch.setattr(wh_mod, "MAX_APPENDED_FILES", 3)
    _create_kv(engine)
    for i in range(3):
        engine.execute(f"CREATE ROW [id, a] [{i}, {i * 10}] ON 'kv'")
    assert _jobs(spark, lambda: engine.execute("COMMIT 'kv'")) == 0
    engine.execute("CREATE ROW [id, a] [3, 30] ON 'kv'")
    assert _jobs(spark, lambda: engine.execute("COMMIT 'kv'")) == 0
    wh = engine.warehouse
    assert len(_files(wh, "kv")) == 2
    assert _rows(wh.read("kv")) == [(i, i * 10) for i in range(4)]
    # an edit and a delete, staged and committed, append their ops to
    # the manifest: no job and no file
    assert _jobs(spark, lambda: engine.execute("EDIT ROW [a] [99] ON 'kv' WHERE id = 1")) == 0
    assert _jobs(spark, lambda: engine.execute("COMMIT 'kv'")) == 0
    assert _jobs(spark, lambda: engine.execute("DELETE ROW ON 'kv' WHERE id = 2")) == 0
    assert _jobs(spark, lambda: engine.execute("COMMIT 'kv'")) == 0
    assert _stats(wh, "kv") == (4, 2, 2, 3)
    assert _rows(wh.read("kv")) == [(0, 0), (1, 99), (3, 30)]
    # the COMMIT that would pass the cap rewrites the fold in one job
    engine.execute("EDIT ROW [a] [7] ON 'kv' WHERE id = 3")
    assert _jobs(spark, lambda: engine.execute("COMMIT 'kv'")) == 1
    assert _stats(wh, "kv") == (5, 1, 0, 0)
    assert _rows(wh.read("kv")) == [(0, 0), (1, 99), (3, 7)]


# One value per row for each ALBA type, at the edges of its domain.
_EDGE_VALUES = {
    "INT": [-(2**31), 2**31 - 1, 0],
    "BIGINT": [-(2**63), 2**63 - 1, 9007199254740993],
    "FLOAT": [-1.5, 1e-300, math.inf],
    "BOOL": [True, False, True],
    "CHAR": ["é", "", "x"],
    "TEXT": ["日本\U0001f600", "", "t" * 5000],
    "NANO-STRING": ["0123456789", "", "ß"],
    "SMALL-STRING": ["s" * 100, "", "\x00"],
    "MEDIUM-STRING": ["m" * 500, "", "é" * 3],
    "BIG-STRING": ["b" * 2000, "", "z"],
    "LARGE-STRING": ["l" * 3000, "", "y"],
    "NANO-BYTES": [b"\x00" * 10, b"", b"\xff"],
    "SMALL-BYTES": [b"\x80" * 1000, b"", b"a"],
    "MEDIUM-BYTES": [b"m" * 10000, b"", b"\x7f"],
    "BIG-BYTES": [b"g" * 100000, b"", b"\x01"],
    "LARGE-BYTES": [b"L" * 1000000, b"", b"\x02"],
    "NONE": [None, None, None],
}


def test_every_alba_type_reads_back_from_both_writers(engine, monkeypatch):
    """The staged rows, the driver-written file of an insert commit and
    the Spark rewrite of an edit commit (a cap of 0 forces it) hold the
    same rows, with the same types."""
    assert set(_EDGE_VALUES) == set(ALBA_TYPES)
    monkeypatch.setattr(wh_mod, "MAX_APPENDED_FILES", 0)
    wh = engine.warehouse
    types = list(_EDGE_VALUES)
    cols = [f"c{i}" for i in range(len(types))]
    wh.create_table("all", [("k", "INT")] + list(zip(cols, types)))
    want = []
    for k in range(3):
        values = [_EDGE_VALUES[t][k] for t in types]
        wh.stage_insert("all", ["k"] + cols, [k] + values)
        want.append((k, *values))
    staged = wh.read("all")
    assert sorted(tuple(r) for r in staged.collect()) == want
    wh.commit("all")
    driver_written = wh.read("all")
    got = sorted(tuple(r) for r in driver_written.collect())
    wh.stage_edit("all", ["c0"], [5], ((("k", "<", 0),), ()))  # matches no row
    wh.commit("all")
    assert wh.stats("all")["ops"] == 0
    rewritten = wh.read("all")
    assert sorted(tuple(r) for r in rewritten.collect()) == got == want
    assert rewritten.schema == driver_written.schema == staged.schema == wh.spark_schema("all")


# Staged rows read, edited, deleted, committed through both writers (the
# cap patched to 4: the first COMMIT appends 3 entries after its first
# file, the second would pass the cap and rewrites) and rolled back.
_SESSION = [
    "CREATE CONTAINER 'kv' [id, a] [BIGINT, INT]",
    "CREATE ROW [id, a] [1, 10] ON 'kv'",
    "CREATE ROW [id, a] [9007199254740993, 20] ON 'kv'",
    "SEARCH ON 'kv'",
    "SEARCH ON 'kv' WHERE a = 20",
    "EDIT ROW [a] [11] ON 'kv' WHERE id = 1",
    "CREATE ROW [id, a] [3, 30] ON 'kv'",
    "DELETE ROW ON 'kv' WHERE id = 9007199254740993",
    "SEARCH ON 'kv'",
    "COMMIT 'kv'",
    "SEARCH ON 'kv'",
    "CREATE ROW [id, a] [4, 40] ON 'kv'",
    "EDIT ROW [a] [41] ON 'kv' WHERE id = 4",
    "SEARCH ON 'kv' WHERE id > 1",
    "COMMIT 'kv'",
    "SEARCH ON 'kv'",
    "CREATE ROW [id, a] [5, 50] ON 'kv'",
    "SEARCH ON 'kv'",
    "ROLLBACK 'kv'",
    "SEARCH ON 'kv'",
]


def test_staged_rows_reach_spark_without_parallelize(spark, tmp_path, monkeypatch):
    """Staged rows reach Spark as Arrow tables, never through
    ``SparkContext.parallelize`` (which starts a Python worker): with it
    refused, every statement replies as in a run without the patch."""
    monkeypatch.setattr(wh_mod, "MAX_APPENDED_FILES", 4)

    def run(root):
        eng = Engine(spark, str(root))
        replies = []
        for stmt in _SESSION:
            r = eng.execute(stmt)
            replies.append((stmt, r.ok, r.rows()))
            if stmt == "COMMIT 'kv'":
                replies.append(_stats(eng.warehouse, "kv"))
        return replies

    want = run(tmp_path / "plain")
    assert (1, 2, 2, 3) in want and (2, 1, 0, 0) in want  # an append, then a rewrite

    def refused(*_):
        raise AssertionError("SparkContext.parallelize called")

    monkeypatch.setattr(SparkContext, "parallelize", refused)
    assert run(tmp_path / "patched") == want


def test_rewrite_stages_only_its_snapshot(engine, monkeypatch):
    """The COMMIT past the cap stages nothing before its Spark write
    makes the snapshot directory it renames, and leaves no ``_staged_*``
    entry behind."""
    monkeypatch.setattr(wh_mod, "MAX_APPENDED_FILES", 0)
    _create_kv(engine)
    d = os.path.join(engine.warehouse.root, "kv")
    seen = []
    write_df = Warehouse._write_df

    def spy(df, staged):
        seen.append([e for e in os.listdir(d) if e.startswith("_staged_")])
        return write_df(df, staged)

    monkeypatch.setattr(Warehouse, "_write_df", staticmethod(spy))
    for i in range(2):
        engine.execute(f"CREATE ROW [id, a] [{i}, {i}] ON 'kv'")
        engine.execute("EDIT ROW [a] [7] ON 'kv' WHERE id = 0")
        engine.execute("COMMIT 'kv'")
    assert seen == [[], []]
    assert not [e for e in os.listdir(d) if e.startswith("_staged_")]
    assert _rows(engine.warehouse.read("kv")) == [(0, 7), (1, 1)]


def test_auto_commit_past_file_cap(spark, tmp_path, monkeypatch):
    """Insert commits append files up to the cap; the one past it
    rewrites, so a snapshot never holds more than cap + 1 files."""
    monkeypatch.setattr(wh_mod, "MAX_APPENDED_FILES", 3)
    eng = Engine(spark, str(tmp_path / "wh"), auto_commit=True)
    _create_kv(eng)
    counts = []
    for i in range(10):
        eng.execute(f"CREATE ROW [id, a] [{i}, {i}] ON 'kv'")
        counts.append(len(_files(eng.warehouse, "kv")))
    assert max(counts) == 4
    assert counts == [1, 2, 3, 4, 1, 2, 3, 4, 1, 2]
    assert _rows(eng.warehouse.read("kv")) == [(i, i) for i in range(10)]


def test_keyset_cursor_pages_after_rewrite(engine, monkeypatch):
    """A keyset cursor over appended files keeps paging after an edit
    COMMIT rewrote the snapshot (a cap of 1 forces it): its pinned
    manifest keeps those files."""
    monkeypatch.setattr(engine_mod, "CAP", 150)
    monkeypatch.setattr(wh_mod, "MAX_APPENDED_FILES", 1)
    engine.execute("CREATE CONTAINER 'nums' [id] [INT]")
    for lo in (0, 125):
        for i in range(lo, lo + 125):
            engine.execute(f"CREATE ROW [id] [{i}] ON 'nums'")
        engine.execute("COMMIT 'nums'")
    assert len(_files(engine.warehouse, "nums")) == 2
    res = engine.execute("SEARCH ON 'nums'")
    assert engine._cursors[res.query_id].keyset is not None
    for _ in range(2):
        engine.execute(f"EDIT ROW [id] [-1] ON 'nums' WHERE id < {2 * PAGE_SIZE}")
        engine.execute("COMMIT 'nums'")
    pages = [[r["id"] for r in res.rows()]]
    for _ in range(2):
        pages.append([r["id"] for r in engine.execute(f"QYCNNXT '{res.query_id}'").rows()])
    assert pages == [list(range(0, 100)), list(range(100, 200)), list(range(200, 250))]
    back = engine.execute(f"QYCNPVS '{res.query_id}'").rows()
    assert [r["id"] for r in back] == pages[1]


def test_keyset_cursor_pages_a_fold_after_its_rewrite(engine, monkeypatch):
    """A keyset cursor over a folded version (two files and a committed
    delete) keeps paging after the COMMIT past the cap rewrote the fold
    and a later one retired the versions around the pinned one."""
    monkeypatch.setattr(engine_mod, "CAP", 150)
    monkeypatch.setattr(wh_mod, "MAX_APPENDED_FILES", 3)
    wh = engine.warehouse
    engine.execute("CREATE CONTAINER 'nums' [id] [INT]")
    for lo, hi in ((0, 125), (125, 260)):
        for i in range(lo, hi):
            engine.execute(f"CREATE ROW [id] [{i}] ON 'nums'")
        engine.execute("COMMIT 'nums'")
    engine.execute("DELETE ROW ON 'nums' WHERE id >= 250")
    engine.execute("COMMIT 'nums'")
    assert _stats(wh, "nums") == (3, 2, 1, 2)
    res = engine.execute("SEARCH ON 'nums'")
    assert engine._cursors[res.query_id].keyset is not None
    for _ in range(3):
        engine.execute(f"EDIT ROW [id] [-1] ON 'nums' WHERE id < {2 * PAGE_SIZE}")
        engine.execute("COMMIT 'nums'")
    assert _stats(wh, "nums")[2] == 1  # v5 rewrote the fold, v6 appended an op
    assert wh.versions("nums") == [3, 5, 6]
    pages = [[r["id"] for r in res.rows()]]
    for _ in range(2):
        pages.append([r["id"] for r in engine.execute(f"QYCNNXT '{res.query_id}'").rows()])
    assert pages == [list(range(0, 100)), list(range(100, 200)), list(range(200, 250))]
    back = engine.execute(f"QYCNPVS '{res.query_id}'").rows()
    assert [r["id"] for r in back] == pages[1]


# -- container names and what a reopen finds ---------------------------------


@pytest.mark.parametrize("name", ["", ".", "..", "a/b", "x/../..", "/", "../kv", "a\x00b"])
def test_create_refuses_names_outside_the_root(tmp_path, engine, name):
    """A container name is one directory directly under the root: no
    CREATE removes or writes anything outside its own directory."""
    _create_kv(engine)
    engine.execute("CREATE ROW [id, a] [1, 1] ON 'kv'")
    engine.execute("COMMIT 'kv'")
    (tmp_path / "keep").write_text("x")
    before = sorted(os.listdir(tmp_path))
    with pytest.raises(ValueError, match="invalid container name"):
        engine.warehouse.create_table(name, [("a", "INT")])
    if "\x00" not in name:
        with pytest.raises(ValueError, match="invalid container name"):
            engine.execute(f"CREATE CONTAINER '{name}' [a] [INT]")
    assert sorted(os.listdir(tmp_path)) == before
    assert (tmp_path / "keep").read_text() == "x"
    assert engine.warehouse.tables() == ["kv"]
    assert _rows(engine.warehouse.read("kv")) == [(1, 1)]


def test_create_keeps_a_directory_it_did_not_write(tmp_path, engine):
    """A name taken by a symlink or by a directory holding files the
    warehouse does not write is refused, and both are left as they were."""
    root = tmp_path / "wh"
    outside = tmp_path / "outside"
    outside.mkdir()
    (outside / "data").write_text("x")
    (root / "ln").symlink_to(outside)
    (root / "mine").mkdir()
    (root / "mine" / "notes.txt").write_text("y")
    with pytest.raises(ValueError, match="invalid container name"):
        engine.execute("CREATE CONTAINER 'ln' [a] [INT]")
    with pytest.raises(ValueError, match="is not a container"):
        engine.execute("CREATE CONTAINER 'mine' [a] [INT]")
    assert (outside / "data").read_text() == "x"
    assert (root / "mine" / "notes.txt").read_text() == "y"


@pytest.mark.parametrize("left", ["schema only", "snapshot only"])
def test_reopen_after_create_cut_short(spark, tmp_path, left):
    """A create cut short (schema.json and no CURRENT, or a snapshot and
    no schema.json) holds no rows: the warehouse opens its other
    containers, and a CREATE of the name replaces the leftover."""
    root = str(tmp_path / "wh")
    eng = Engine(spark, root)
    for name in ("kv", "cut"):
        _create_kv(eng, name)
    eng.execute("CREATE ROW [id, a] [1, 1] ON 'kv'")
    eng.execute("COMMIT 'kv'")
    cut = tmp_path / "wh" / "cut"
    (cut / (CURRENT if left == "schema only" else "schema.json")).unlink()
    reopened = Engine(spark, root)
    assert reopened.warehouse.tables() == ["kv"]
    assert _rows(reopened.warehouse.read("kv")) == [(1, 1)]
    _create_kv(reopened, "cut")
    reopened.execute("CREATE ROW [id, a] [2, 2] ON 'cut'")
    reopened.execute("COMMIT 'cut'")
    assert _rows(Engine(spark, root).warehouse.read("cut")) == [(2, 2)]


def test_unreadable_container_is_left_out(spark, tmp_path):
    """A container whose current manifest cannot be read is left out of
    the open; the others open with their rows."""
    root = str(tmp_path / "wh")
    eng = Engine(spark, root)
    for name in ("kv", "bad"):
        _create_kv(eng, name)
        eng.execute(f"CREATE ROW [id, a] [1, 1] ON '{name}'")
        eng.execute(f"COMMIT '{name}'")
    manifest = tmp_path / "wh" / "bad" / "v_1" / wh_mod.MANIFEST
    manifest.write_text(manifest.read_text()[:5])
    reopened = Engine(spark, root)
    assert reopened.warehouse.tables() == ["kv"]
    assert _rows(reopened.warehouse.read("kv")) == [(1, 1)]
    with pytest.raises(ValueError, match="already exists"):
        _create_kv(reopened, "bad")


# -- crashes and concurrent writers ------------------------------------------


class _Crash(Exception):
    pass


class _OsCrashingReplace:
    """``os`` with ``replace`` cut short when it would flip CURRENT."""

    def __init__(self, crash):
        self._crash = crash

    def __getattr__(self, attr):
        return getattr(os, attr)

    def replace(self, src, dst):
        if os.path.basename(dst) == CURRENT:
            self._crash()
        os.replace(src, dst)


# change → (statement, rows after its COMMIT); "edit" goes through the
# Spark rewrite (a cap of 0 forces it), the ops are appended
_CHANGES = {
    "insert": ("CREATE ROW [id, a] [9, 9] ON 'kv'", [(0, 0), (1, 0), (2, 0), (9, 9)]),
    "edit": ("EDIT ROW [a] [7] ON 'kv' WHERE id = 1", [(0, 0), (1, 7), (2, 0)]),
    "edit op": ("EDIT ROW [a] [7] ON 'kv' WHERE id = 1", [(0, 0), (1, 7), (2, 0)]),
    "delete op": ("DELETE ROW ON 'kv' WHERE id = 1", [(0, 0), (2, 0)]),
}


@pytest.mark.parametrize("change", list(_CHANGES))
@pytest.mark.parametrize("step", ["files", "manifest", "rename", "flip"])
def test_commit_survives_crash(spark, tmp_path, monkeypatch, step, change):
    """A crash at each step of a commit's write: the directory as the
    crash left it reopens at the last committed rows and takes the
    COMMIT again; the live warehouse removed what the failed commit
    wrote and commits the staged change."""
    if change == "edit":
        monkeypatch.setattr(wh_mod, "MAX_APPENDED_FILES", 0)
    root, image = str(tmp_path / "wh"), str(tmp_path / "crashed")
    eng = Engine(spark, root)
    _create_kv(eng)
    for i in range(3):
        eng.execute(f"CREATE ROW [id, a] [{i}, 0] ON 'kv'")
    eng.execute("COMMIT 'kv'")
    committed = [(0, 0), (1, 0), (2, 0)]
    stmt, after = _CHANGES[change]

    def crash(*_):
        shutil.copytree(root, image)
        raise _Crash(step)

    write_manifest = Warehouse._write_manifest
    with monkeypatch.context() as m:
        if step == "files":
            m.setattr(Warehouse, "_write_manifest", staticmethod(crash))
        elif step == "manifest":
            m.setattr(Warehouse, "_write_manifest", staticmethod(lambda *a: (write_manifest(*a), crash())))
        elif step == "rename":
            m.setattr(Warehouse, "_flip_current", crash)
        else:
            m.setattr(wh_mod, "os", _OsCrashingReplace(crash))
        eng.execute(stmt)
        with pytest.raises(_Crash):
            eng.execute("COMMIT 'kv'")

    def leftovers(r):
        return sorted(e for e in os.listdir(os.path.join(r, "kv")) if e.startswith(("_staged_", "v_2")))

    assert leftovers(root) == []
    assert leftovers(image) != []
    reopened = Engine(spark, image)
    assert leftovers(image) == []
    assert _rows(reopened.warehouse.read("kv")) == committed
    reopened.execute(stmt)
    reopened.execute("COMMIT 'kv'")
    assert _rows(reopened.warehouse.read("kv")) == after
    eng.execute("COMMIT 'kv'")
    assert _rows(eng.warehouse.read("kv")) == after
    assert eng.warehouse.stats("kv")["ops"] == (1 if change.endswith(" op") else 0)


def test_two_threads_commit_one_container(engine):
    _create_kv(engine)
    errors = []

    def writer(base):
        try:
            for i in range(20):
                engine.execute(f"CREATE ROW [id, a] [{base + i}, 0] ON 'kv'")
                engine.execute("COMMIT 'kv'")
        except Exception as e:  # noqa: BLE001 - reported below
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(base,)) for base in (0, 100)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    ids = [r[0] for r in _rows(engine.warehouse.read("kv"))]
    assert ids == list(range(20)) + list(range(100, 120))


# -- staging coercion ----------------------------------------------------------

# A COMMIT with only inserts is written by the driver; one with a delete
# too appends it as an op; past the cap (0 here) a COMMIT goes through
# the Spark rewrite.
_PATHS = {"driver": [], "op": ["DELETE ROW ON 'big' WHERE id = -1"], "rewrite": ["DELETE ROW ON 'big' WHERE id = -1"]}


def _take(path, monkeypatch):
    if path == "rewrite":
        monkeypatch.setattr(wh_mod, "MAX_APPENDED_FILES", 0)
    return _PATHS[path]


@pytest.mark.parametrize("path", sorted(_PATHS))
def test_bigint_is_parsed_exactly(engine, monkeypatch, path):
    engine.execute("CREATE CONTAINER 'big' [id, b] [BIGINT, BIGINT]")
    engine.execute("CREATE ROW [id, b] [1, 9007199254740993] ON 'big'")
    engine.execute("CREATE ROW [id, b] [2, '-9007199254740995'] ON 'big'")
    engine.execute("CREATE ROW [id, b] [3, 2.9] ON 'big'")  # a real float truncates
    for stmt in _take(path, monkeypatch):
        engine.execute(stmt)
    engine.execute("COMMIT 'big'")
    got = {r["id"]: r["b"] for r in engine.execute("SEARCH ON 'big'").rows()}
    assert got == {1: 9007199254740993, 2: -9007199254740995, 3: 2}
    with pytest.raises(ValueError, match="out of BIGINT range"):
        engine.warehouse.stage_insert("big", ["id"], [2**63])


@pytest.mark.parametrize("path", sorted(_PATHS))
def test_value_for_none_column_is_stored_as_null(engine, monkeypatch, path):
    engine.execute("CREATE CONTAINER 'big' [id, n] [BIGINT, NONE]")
    engine.execute("CREATE ROW [id, n] [1, 'ignored'] ON 'big'")
    for stmt in _take(path, monkeypatch):
        engine.execute(stmt)
    engine.execute("COMMIT 'big'")
    engine.execute("CREATE ROW [id] [2] ON 'big'")
    engine.execute("COMMIT 'big'")
    assert engine.execute("SEARCH ON 'big'").rows() == [{"id": 1, "n": None}, {"id": 2, "n": None}]


# -- edits and deletes: NULL, checks, manifest literals, fold order ------------


@pytest.mark.parametrize("path", ["op", "rewrite"])
@pytest.mark.parametrize("where", ["n = 1", "n != 1", "id = 0 OR n = 1"])
def test_delete_removes_the_rows_a_search_returns(engine, monkeypatch, path, where):
    """A DELETE removes exactly the rows a SEARCH with its WHERE returns:
    not those where the chain is NULL (NONE columns hold only NULL)."""
    _take(path, monkeypatch)
    engine.execute("CREATE CONTAINER 'z' [id, n] [BIGINT, NONE]")
    for i in range(3):
        engine.execute(f"CREATE ROW [id] [{i}] ON 'z'")
    engine.execute("COMMIT 'z'")
    found = [r["id"] for r in engine.execute(f"SEARCH ON 'z' WHERE {where}").rows()]
    engine.execute(f"DELETE ROW ON 'z' WHERE {where}")
    engine.execute("COMMIT 'z'")
    left = [r["id"] for r in engine.execute("SEARCH ON 'z'").rows()]
    assert sorted(found + left) == [0, 1, 2]
    assert found == ([0] if where.startswith("id") else [])


@pytest.mark.parametrize("where", ["nosuch = 1", "s = 5", "s = TRUE", "a = 'x'", "s &&&> '['", "id = 99999999999999999999"])
def test_condition_spark_cannot_evaluate_is_refused_when_staged(engine, where):
    """An EDIT or DELETE whose WHERE fails in Spark (an unknown column, a
    string column compared with a number or bool, a literal that does
    not cast, a bad regex, an integer past BIGINT) is refused when
    staged: a committed op would fail every later read."""
    engine.execute("CREATE CONTAINER 't' [id, a, s] [BIGINT, INT, SMALL-STRING]")
    engine.execute("CREATE ROW [id, a, s] [1, 1, '1'] ON 't'")
    engine.execute("COMMIT 't'")
    for stmt in (f"EDIT ROW [a] [2] ON 't' WHERE {where}", f"DELETE ROW ON 't' WHERE {where}"):
        with pytest.raises(Exception):
            engine.execute(stmt)
    engine.execute("COMMIT 't'")
    assert engine.warehouse.stats("t")["version"] == 1
    assert engine.execute("SEARCH ON 't'").rows() == [{"id": 1, "a": 1, "s": "1"}]


@pytest.mark.parametrize(
    "value", [2**70, -(2**63) - 1, 9007199254740993, math.nan, math.inf, -math.inf, -0.0, 1e-300,
              b"\x00\xff", b"", True, False, None, "", "é\U0001f600"]
)
def test_manifest_literal_round_trips(value):
    j = json.loads(json.dumps(wh_mod._lit_json(value), allow_nan=False))
    back = wh_mod._lit_value(j)
    assert type(back) is type(value) and repr(back) == repr(value)


@pytest.mark.parametrize("j", [{"int": 5}, {"float": 1.5}, {"bool": "true"}, {"str": 1}, {"bytes": "@@"},
                               {"date": "2020-01-01"}, {"int": "1", "str": "1"}, [1], 5, "x"])
def test_manifest_literal_refuses_what_it_did_not_write(j):
    with pytest.raises(ValueError):
        wh_mod._lit_value(j)


def _canon(df) -> list[str]:
    """Rows by their key, each as repr: NaN equals NaN and -0.0 differs
    from 0.0."""
    return [repr(tuple(r)) for r in sorted(df.collect(), key=lambda r: r[0])]


def test_committed_ops_round_trip_through_the_manifest(spark, tmp_path):
    """Edits of every ALBA type, and edits and deletes whose conditions
    use every operator with a literal of each kind: a new Warehouse on
    the committed manifest reads the rows the staged overlay showed."""
    root = str(tmp_path / "wh")
    wh = Warehouse(spark, root)
    types = list(_EDGE_VALUES)
    cols = [f"c{i}" for i in range(len(types))]
    c = dict(zip(types, cols))
    wh.create_table("all", [("k", "INT")] + list(zip(cols, types)))
    for k in range(5):
        wh.stage_insert("all", ["k"] + cols, [k] + [_EDGE_VALUES[t][k % 3] for t in types])
    wh.commit("all")
    # (column assigned, value, condition); no condition reads a column
    # an op before it assigned, so the COMMIT appends every op
    ops = [
        (c["INT"], 7, (c["FLOAT"], "!=", -1.5)),
        (c["FLOAT"], math.nan, (c["BIGINT"], "=", 9007199254740993)),
        (c["FLOAT"], -0.0, (c["BOOL"], "<", True)),
        (c["TEXT"], "bytes", (c["NANO-BYTES"], ">=", b"\xff")),
        (c["NANO-BYTES"], b"\x01", (c["CHAR"], "&>", "é")),
        (c["BIGINT"], -(2**63), (c["SMALL-STRING"], "&&>", "S")),
        (c["NONE"], None, (c["LARGE-STRING"], "&&&>", "^l+$")),
    ]
    for col, value, cond in ops:
        wh.stage_edit("all", [col], [value], ((cond,), ()))
    wh.stage_delete("all", ((("k", ">=", 3), (c["MEDIUM-BYTES"], "=", b"m" * 10000)), ("AND",)))  # row 3
    # every type assigned: row 4 takes the edge values of row 2
    wh.stage_edit("all", cols, [_EDGE_VALUES[t][2] for t in types], ((("k", "=", 4),), ()))
    staged = _canon(wh.read("all"))
    assert staged != _canon(wh.read_committed("all"))
    wh.commit("all")
    assert wh.stats("all")["ops"] == len(ops) + 2
    assert _canon(wh.read("all")) == staged
    assert _canon(Warehouse(spark, root).read("all")) == staged


@pytest.mark.parametrize("op", ["DELETE ROW ON 'kv' WHERE id = 5", "EDIT ROW [a] [0] ON 'kv' WHERE id = 5"])
def test_committed_op_leaves_later_rows_alone(spark, tmp_path, op):
    """A committed op applies to the rows before it only: a row inserted
    and committed after it keeps its values, read right after the
    COMMIT and by a new Warehouse."""
    root = str(tmp_path / "wh")
    eng = Engine(spark, root)
    _create_kv(eng)
    eng.execute("CREATE ROW [id, a] [5, 1] ON 'kv'")
    eng.execute("COMMIT 'kv'")
    eng.execute(op)
    eng.execute("COMMIT 'kv'")
    eng.execute("CREATE ROW [id, a] [5, 2] ON 'kv'")
    eng.execute("COMMIT 'kv'")
    assert _stats(eng.warehouse, "kv") == (3, 2, 1, 2)
    want = [(5, 2)] if op.startswith("DELETE") else [(5, 0), (5, 2)]
    assert _rows(eng.warehouse.read("kv")) == want
    assert _rows(Engine(spark, root).warehouse.read("kv")) == want


def test_op_reading_an_assigned_column_rewrites(spark, engine):
    """An op whose condition reads a column a committed op assigned goes
    through the rewrite (a filter pushed through a chain of such edits
    grows exponentially); an op that reads other columns is appended.
    A row inserted after an edit is not touched by it."""
    _create_kv(engine)
    wh = engine.warehouse
    engine.execute("CREATE ROW [id, a] [1, 0] ON 'kv'")
    engine.execute("CREATE ROW [id, a] [2, 50] ON 'kv'")
    engine.execute("COMMIT 'kv'")
    engine.execute("EDIT ROW [a] [1] ON 'kv' WHERE a = 0")
    engine.execute("CREATE ROW [id, a] [3, 0] ON 'kv'")
    engine.execute("COMMIT 'kv'")
    assert _stats(wh, "kv") == (2, 2, 1, 2)
    for i in range(1, 5):
        engine.execute(f"EDIT ROW [a] [{i + 1}] ON 'kv' WHERE a = {i}")
        # every other COMMIT meets a fold whose edit assigned a
        assert _jobs(spark, lambda: engine.execute("COMMIT 'kv'")) == i % 2
        assert _stats(wh, "kv")[1:3] == ((1, 0) if i % 2 else (1, 1))
    engine.execute("DELETE ROW ON 'kv' WHERE id = 7")
    assert _jobs(spark, lambda: engine.execute("COMMIT 'kv'")) == 0
    engine.execute("DELETE ROW ON 'kv' WHERE a = 5")
    assert _jobs(spark, lambda: engine.execute("COMMIT 'kv'")) == 1
    assert _rows(wh.read("kv")) == [(2, 50), (3, 0)]
    assert _rows(Warehouse(spark, wh.root).read("kv")) == [(2, 50), (3, 0)]


def test_append_df_after_a_committed_op(spark, engine):
    """Rows ``append_df`` adds after a committed delete are not deleted."""
    _create_kv(engine)
    wh = engine.warehouse
    wh.append_df("kv", spark.range(4).selectExpr("id", "cast(id as int) a"))
    engine.execute("DELETE ROW ON 'kv' WHERE a < 2")
    engine.execute("COMMIT 'kv'")
    wh.append_df("kv", spark.range(2).selectExpr("id", "cast(id as int) a"))
    assert _stats(wh, "kv") == (3, 2, 1, 2)
    assert _rows(wh.read("kv")) == [(0, 0), (1, 1), (2, 2), (3, 3)]


# -- SEARCH over several files ---------------------------------------------------


def test_multi_source_search_runs_one_job(spark, engine):
    for name in ("a", "b"):
        _create_kv(engine, name)
        engine.execute(f"CREATE ROW [id, a] [1, 1] ON '{name}'")
        engine.execute(f"COMMIT '{name}'")
    engine.execute("SEARCH ON ['a', 'b'] WHERE id = 1")  # warm the snapshots
    assert _jobs(spark, lambda: engine.execute("SEARCH ON ['a', 'b'] WHERE id = 1")) == 1


def test_search_over_appended_files_runs_one_job(spark, engine):
    """A snapshot at the file cap, each file a partition of its own (as
    on a box with many cores), is still scanned in one job."""
    _create_kv(engine)
    nfiles = wh_mod.MAX_APPENDED_FILES + 1
    for i in range(nfiles):
        engine.execute(f"CREATE ROW [id, a] [{i}, {i}] ON 'kv'")
        engine.execute("COMMIT 'kv'")
    assert len(_files(engine.warehouse, "kv")) == nfiles
    conf = engine.spark.conf
    # a file costs as much as a whole partition: no two share one
    conf.set("spark.sql.files.openCostInBytes", conf.get("spark.sql.files.maxPartitionBytes"))
    try:
        df = engine.search_df("SEARCH ON 'kv' WHERE id = 3")
        assert df.rdd.getNumPartitions() == nfiles
        engine.execute("SEARCH ON 'kv' WHERE id = 3")
        assert _jobs(spark, lambda: engine.execute("SEARCH ON 'kv' WHERE id = 3")) == 1
        assert engine.execute("SEARCH ON 'kv' WHERE id = 3").rows() == [{"id": 3, "a": 3}]
    finally:
        conf.unset("spark.sql.files.openCostInBytes")


# -- model test ----------------------------------------------------------------

_KEYS = st.integers(0, 4)
_STEPS = st.one_of(
    st.tuples(st.just("insert"), _KEYS, st.integers(0, 9)),
    st.tuples(st.just("edit"), _KEYS, st.integers(0, 9)),
    st.tuples(st.just("delete"), _KEYS),
    st.tuples(st.just("commit")),
    st.tuples(st.just("rollback")),
)


def _apply(rows: list[tuple], step: tuple) -> list[tuple]:
    kind, *arg = step
    if kind == "insert":
        return rows + [tuple(arg)]
    if kind == "edit":
        return [(k, arg[1] if k == arg[0] else a) for k, a in rows]
    return [(k, a) for k, a in rows if k != arg[0]]


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
@given(steps=st.lists(_STEPS, min_size=1, max_size=8))
# ops fill the cap, then a COMMIT of an insert and an edit crosses it
@example(steps=[("insert", 1, 1), ("commit",), ("edit", 1, 2), ("commit",), ("delete", 0), ("commit",),
                ("insert", 0, 3), ("edit", 1, 4), ("commit",), ("delete", 1), ("commit",)])
def test_commits_match_a_dict_model(engine, monkeypatch, steps):
    """Random insert/edit/delete/commit/rollback sequences against a
    model; ``read()`` after each step, and after each COMMIT the
    previous version as the model had it. A cap of 2 appended entries
    sends some commits through the rewrite."""
    monkeypatch.setattr(wh_mod, "MAX_APPENDED_FILES", 2)
    t = f"m{uuid.uuid4().hex[:8]}"
    _create_kv(engine, t)
    wh = engine.warehouse
    committed: list[tuple] = []
    staged: list[tuple] = []
    for step in steps:
        kind = step[0]
        if kind == "insert":
            engine.execute(f"CREATE ROW [id, a] [{step[1]}, {step[2]}] ON '{t}'")
        elif kind == "edit":
            engine.execute(f"EDIT ROW [a] [{step[2]}] ON '{t}' WHERE id = {step[1]}")
        elif kind == "delete":
            engine.execute(f"DELETE ROW ON '{t}' WHERE id = {step[1]}")
        elif kind == "rollback":
            engine.execute(f"ROLLBACK '{t}'")
            staged = []
        else:
            engine.execute(f"COMMIT '{t}'")
            if staged:
                previous = committed
                for s in staged:
                    committed = _apply(committed, s)
                staged = []
                v = wh._current_version(t)
                assert _rows(wh.read_version(t, v - 1)) == sorted(previous)
        if kind in ("insert", "edit", "delete"):
            staged.append(step)
        view = committed
        for s in staged:
            view = _apply(view, s)
        assert _rows(wh.read(t)) == sorted(view)
    assert len(_files(wh, t)) <= 3
