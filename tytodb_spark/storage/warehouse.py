"""Warehouse: mutable-table semantics over immutable Parquet files.

Reproduces the reference's transactional surface (SURVEY §2.5):
- MVCC write buffer → an in-memory, per-table op log (inserts / edits /
  deletes) overlaid on the committed snapshot at read time (reference
  overlays its buffer over the file in get_rows, src/container.rs:354-363).
- COMMIT → write only what changed (new Parquet files and committed
  ops), then atomically flip a CURRENT pointer to a new snapshot
  manifest (the reference writes the buffered rows into their slots,
  src/container.rs:248-342; Parquet page checksums + atomic rename
  replace its strix checksum daemon and graveyard slot reuse,
  src/strix.rs:18-56, SURVEY §4.3).
- ROLLBACK → drop the op log (src/container.rs:241-247).
- Per-table (not cross-table) atomicity, matching the reference
  (Database::commit loops containers independently, src/database.rs:252-261).

On disk a container is a directory::

    schema.json   column names and ALBA types
    CURRENT       the committed version n
    v_<k>/        the Parquet files commit k wrote, plus its manifest
                  (manifest.json) while version k is retained

A snapshot is its manifest: an ordered list of entries, and the count
of entries appended since the last rewrite. An entry is either
- a Parquet file, stored in the ``v_k/`` of the commit that wrote it, or
- a committed op: an edit (its assignments and condition chain) or a
  delete (its condition chain), with every literal as tagged JSON
  (``_lit_json``), so each value reads back exactly.
A snapshot's rows are the fold of its entries in order: a file adds its
rows, an op changes the rows of the entries before it (merge-on-read, as
Iceberg v2 row-level deletes and Delta deletion vectors). ``_Fold`` reads
it as ONE scan of the files, one filter (the rows the deletes keep) and
one projection (each column's value after the edits), each op limited
to the rows of the files before it. A read of staged ops applies them
on top (``_overlay``); ``_op_columns`` is what an op does in both.

Each run of staged inserts (``_runs``) becomes ONE Arrow table
(``_arrow``): a read unions it as a DataFrame the JVM decodes (no
Python worker), and a COMMIT appends it to the manifest as ONE file
pyarrow writes on the driver, each edit or delete as an op entry, in
staging order. So no such COMMIT runs a Spark job (a Spark write of a
few rows pays a job and a task). It rewrites the committed snapshot
with the staged ops overlaid, in one Spark job and one file for a small
table, when it would take the snapshot past MAX_APPENDED_FILES appended
entries, or when one of its ops reads a column a committed op assigned
(see ``_Fold``). A commit registers its new version's fold, extended
from the previous one, so the next read builds no op again.
``append_df`` writes a batch's files with Spark after the old entries;
``compact`` rewrites to target-sized files. An edit or delete is checked
when it is staged (``_check_conditions``): a committed op runs at every
later read, so one Spark could not evaluate would make them all fail.

Every commit writes into a ``_staged_*`` directory, puts the manifest
there, renames it to ``v_<n>`` (the rename fails when n is taken) and
flips CURRENT last (write-temp + rename); a commit that raises removes
what it wrote. Opening a Warehouse removes what a crash left behind:
``_staged_*``, CURRENT temp files and any ``v_k`` above CURRENT. A
directory without both schema.json and CURRENT is a create cut short
and holds no committed rows: it is not opened, and a CREATE of its name
replaces it. A container that cannot be opened is left out with a
warning; the others open. A
manifest is retired once it is older than the previous version and no
reader pins it; a ``v_k`` directory goes once no retained manifest
lists a file in it (an op entry lists none). One lock per container
serialises staging, the op-list read of ``read``, COMMIT and ROLLBACK.

Scale: this is the manifest pattern Delta/Iceberg formalize (immutable
files and row-level changes, swapped atomically); reads stay
pushdown-able and partition-prunable, writes are new entries + one
pointer flip.
"""

from __future__ import annotations

import base64
import json
import logging
import math
import os
import re
import shutil
import threading
import uuid
from collections import Counter
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tytodb_spark.functions.tyto import ALBA_TYPES, zero_default
from tytodb_spark.operators.predicates import compile_chain, compile_condition

CURRENT = "CURRENT"
MANIFEST = "manifest.json"
#: Most entries (files and committed ops) commits and ``append_df`` add
#: to a snapshot between two rewrites. Spark lists more than 32 input
#: paths with a job of its own (parallelPartitionDiscovery.threshold),
#: every file costs a SEARCH an open and a footer read, and every op a
#: step of the fold. The statement session's
#: spark.sql.limit.initialNumPartitions is derived from it.
MAX_APPENDED_FILES = 16

# Arrow type of each Spark type an ALBA type maps to (ALBA_TYPES).
_ARROW_TYPES = {
    "integer": pa.int32(),
    "long": pa.int64(),
    "double": pa.float64(),
    "boolean": pa.bool_(),
    "string": pa.string(),
    "binary": pa.binary(),
    "void": pa.null(),
}
_INT_BITS = {"INT": 32, "BIGINT": 64}
#: What the warehouse itself writes in a container directory.
_OWN_ENTRY = re.compile(r"schema\.json(\.tmp_\w+)?|CURRENT|v_\d+|_staged_\w+|\.current_\w+")
_log = logging.getLogger(__name__)


@dataclass
class _Op:
    kind: str  # insert | edit | delete
    rows: list[dict] | None = None  # insert
    assignments: dict[str, object] | None = None  # edit
    conditions: tuple = ((), ())  # edit/delete: (triples, gates)


@dataclass
class _TableState:
    schema: list[tuple[str, str]]  # (col, ALBA type)
    ops: list[_Op] = field(default_factory=list)
    lock: threading.RLock = field(default_factory=threading.RLock)
    #: one row of the columns' zero defaults, as literals (``_check_conditions``)
    zero: DataFrame | None = None


#: A manifest entry: a file ("v_<k>/<file>", relative to the container
#: dir) or a committed edit or delete.
_Entry = str | _Op


@dataclass(frozen=True)
class _Manifest:
    entries: tuple[_Entry, ...] = ()  # in commit order
    appended: int = 0  # entries added since the last rewrite

    @property
    def files(self) -> tuple[str, ...]:
        return tuple(e for e in self.entries if isinstance(e, str))

    def then(self, new: list) -> _Manifest:
        """This snapshot with ``new`` entries appended. The first entry
        of an empty snapshot is its base, not an appended one."""
        return _Manifest(self.entries + tuple(new), self.appended + len(new) - (bool(new) and not self.entries))


def _lit_json(value: object) -> object:
    """A literal as strict, tagged JSON: NULL, or one ``{kind: payload}``.
    Numbers travel as text, so integers of any size, NaN, ±inf and -0.0
    read back exactly, as does the Python type of each value."""
    if value is None:
        return None
    if isinstance(value, bool):
        return {"bool": value}
    if isinstance(value, int):
        return {"int": str(value)}
    if isinstance(value, float):
        return {"float": repr(value)}
    if isinstance(value, (bytes, bytearray)):
        return {"bytes": base64.b64encode(value).decode()}
    if isinstance(value, str):
        return {"str": value}
    raise TypeError(f"no manifest form for literal {value!r}")


def _lit_value(j: object) -> object:
    """The literal ``_lit_json`` wrote; anything else raises ValueError."""
    if j is None:
        return None
    if isinstance(j, dict) and len(j) == 1:
        [(kind, p)] = j.items()
        if (kind, type(p)) in (("bool", bool), ("str", str)):
            return p
        if isinstance(p, str):
            if kind == "int":
                return int(p)
            if kind == "float":
                return float(p)
            if kind == "bytes":
                return base64.b64decode(p, validate=True)
    raise ValueError(f"bad literal {j!r} in manifest")


def _entry_json(e: _Entry) -> object:
    if isinstance(e, str):
        return e
    triples, gates = e.conditions
    out = {"op": e.kind, "where": [[c, o, _lit_json(v)] for c, o, v in triples], "gates": list(gates)}
    if e.kind == "edit":
        out["set"] = [[c, _lit_json(v)] for c, v in e.assignments.items()]
    return out


def _entry(j: object) -> _Entry:
    if isinstance(j, str):
        return j
    if j["op"] not in ("edit", "delete"):
        raise ValueError(f"bad entry {j!r} in manifest")
    conditions = (tuple((c, o, _lit_value(v)) for c, o, v in j["where"]), tuple(j["gates"]))
    assignments = {c: _lit_value(v) for c, v in j["set"]} if j["op"] == "edit" else None
    return _Op(j["op"], assignments=assignments, conditions=conditions)


def _op_columns(op: _Op, values: dict[str, Column], only: Column | None = None):
    """What an edit or delete does, as Columns: a delete → the Column of
    the rows it keeps; an edit → each assigned column's new value, where
    column c held ``values[c.lower()]`` if set, else itself. ``only``
    limits the op to the rows where it holds. A row whose chain is NULL
    is neither deleted nor edited, as a SEARCH does not return it."""
    pred = compile_chain(*op.conditions)
    if only is not None:
        pred = pred & only
    if op.kind == "delete":
        return ~F.coalesce(pred, F.lit(False))
    return {c: F.when(pred, F.lit(v)).otherwise(values.get(c.lower(), F.col(c))) for c, v in op.assignments.items()}


@dataclass
class _Fold:
    """A committed snapshot as ONE scan of its files, a filter (the rows
    the committed deletes keep) and a projection (each column's value
    after the committed edits), the ops as Columns over the scan. An op
    applies to the rows of the files before it: its condition is ANDed
    with the row's file (the scan's ``_metadata.file_name``) being one
    of them. A scan per file would cost every SEARCH a scan node, ~15-20
    ms each.

    No op may read a column an earlier op of the fold assigned
    (``takes``); such a commit rewrites instead. Spark pushes a filter
    below a projection by substituting each column's value, and an edit
    that reads the column it assigns holds that value twice, so a chain
    of them grows the plan exponentially. Columns do not refer to the
    scan: a commit extends the fold without building the older ops
    again, and the scan is built anew only when files were added."""

    files: list[str] = field(default_factory=list)
    values: dict[str, Column] = field(default_factory=dict)  # lower-cased column → its value
    keep: Column | None = None
    scan: DataFrame | None = None  # of ``files``, reused while they stay

    def takes(self, ops: list[_Op]) -> bool:
        """Whether no condition of ``ops`` reads a column that the fold
        or an op before it assigned."""
        assigned = set(self.values)
        for op in ops:
            if op.kind != "insert":
                if any(c.lower() in assigned for c, _, _ in op.conditions[0]):
                    return False
                assigned.update(c.lower() for c in op.assignments or ())
        return True

    def then(self, entries: list[_Entry]) -> _Fold:
        files, values, keep = list(self.files), dict(self.values), self.keep
        for e in entries:
            if isinstance(e, str):
                files.append(e)
            elif files:  # an op before every file changes no row
                before = F.col("_metadata.file_name").isin([os.path.basename(f) for f in files])
                out = _op_columns(e, values, before)
                if e.kind == "delete":
                    keep = out if keep is None else keep & out
                else:
                    values.update((c.lower(), v) for c, v in out.items())
        return _Fold(files, values, keep, self.scan if files == self.files else None)


def _runs(ops: list[_Op]) -> list[list[dict] | _Op]:
    """``ops`` in order, each run of consecutive staged inserts as ONE
    list of its rows, each edit or delete as it is."""
    out: list[list[dict] | _Op] = []
    for op in ops:
        if op.kind != "insert":
            out.append(op)
        elif out and isinstance(out[-1], list):
            out[-1].extend(op.rows)
        else:
            out.append(list(op.rows))
    return out


def _exact_int(value: object) -> int:
    """An integer literal parsed exactly; only a real float truncates
    toward zero, NaN and infinities refused (src/alba_types.rs:146-151).
    ``int(float(v))`` would round 9007199254740993 to ...992."""
    if isinstance(value, int):
        return int(value)
    if isinstance(value, float):
        f = value
    else:
        s = str(value).strip()
        try:
            return int(s)
        except ValueError:
            f = float(s)
    if not math.isfinite(f):
        raise ValueError(f"cannot coerce {value!r} to an integer")
    return int(f)


def _version(entry: str) -> int | None:
    """k of a ``v_<k>`` directory entry, else None."""
    return int(entry[2:]) if re.fullmatch(r"v_\d+", entry) else None


def _parquet_files(path: str) -> list[str]:
    """The data files Spark wrote to ``path`` (no markers, no checksums)."""
    return sorted(f for f in os.listdir(path) if f.endswith(".parquet") and f[0] not in "._")


class Warehouse:
    """A directory of snapshot-versioned Parquet tables with staged writes.

    ``external_tables`` lets read-only DataFrames (e.g. the testdata
    parquet) be addressed by name alongside warehouse tables — used by the
    AQL query surface.
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        external_tables: dict[str, DataFrame] | None = None,
    ):
        self.spark = spark
        self.root = root
        self.external = external_tables or {}
        self._state: dict[str, _TableState] = {}
        #: (container, version) → open readers that still page it
        self._pins: Counter[tuple[str, int]] = Counter()
        self._pins_lock = threading.Lock()
        #: (container, version) → (inode of its manifest, fold, DataFrame)
        self._snapshots: dict[tuple[str, int], tuple[int, _Fold, DataFrame]] = {}
        self._ddl_lock = threading.Lock()
        os.makedirs(root, exist_ok=True)
        for name in os.listdir(root):
            if not self._committed(name):
                continue
            try:
                self._recover(name)
                with open(self._schema_path(name)) as f:
                    schema = [tuple(c) for c in json.load(f)]
            except (OSError, ValueError, KeyError) as e:
                _log.warning("container %r left out: cannot open it (%s)", name, e)
                continue
            self._state[name] = _TableState(schema=schema)

    # -- paths ------------------------------------------------------------
    def _dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _schema_path(self, name: str) -> str:
        return os.path.join(self._dir(name), "schema.json")

    def _committed(self, name: str) -> bool:
        """Whether ``name`` is a container whose create completed: it has
        both its schema and a CURRENT version."""
        d = self._dir(name)
        return os.path.isfile(self._schema_path(name)) and os.path.isfile(os.path.join(d, CURRENT))

    def _check_name(self, name: str) -> None:
        """Refuse a container name that is not one directory directly
        under the root: the name joins the root path as given."""
        if (
            name in ("", ".", "..")
            or any(sep in name for sep in ("/", "\0", os.sep, os.altsep) if sep)
            or os.path.dirname(os.path.realpath(self._dir(name))) != os.path.realpath(self.root)
        ):
            raise ValueError(f"invalid container name {name!r}")

    def _current_version(self, name: str) -> int:
        with open(os.path.join(self._dir(name), CURRENT)) as f:
            return int(f.read().strip())

    def _snapshot_path(self, name: str, version: int) -> str:
        return os.path.join(self._dir(name), f"v_{version}")

    def _manifest(self, name: str, version: int) -> _Manifest:
        with open(os.path.join(self._snapshot_path(name, version), MANIFEST)) as f:
            m = json.load(f)
        return _Manifest(tuple(map(_entry, m["entries"])), m["appended"])

    # -- schema helpers ----------------------------------------------------
    def spark_schema(self, name: str) -> T.StructType:
        fields = []
        for col, alba in self._state[name].schema:
            dt, _cap = ALBA_TYPES[alba]
            fields.append(T.StructField(col, dt, True))
        return T.StructType(fields)

    def _arrow(self, name: str, rows: list[dict]) -> pa.Table:
        """Staged rows of ``name`` as one Arrow table of its columns."""
        schema = pa.schema([(f.name, _ARROW_TYPES[f.dataType.typeName()]) for f in self.spark_schema(name).fields])
        return pa.Table.from_pylist(rows, schema=schema)

    def declared(self, name: str) -> list[tuple[str, T.DataType, int | None]]:
        """(column, Spark type, declared ALBA size or None) of a
        container or external table; an external column has no declared
        size."""
        if name in self._state:
            return [(c, *ALBA_TYPES[alba]) for c, alba in self._state[name].schema]
        if name in self.external:
            return [(f.name, f.dataType, None) for f in self.external[name].schema.fields]
        raise KeyError(f"no such container {name!r}")

    def exists(self, name: str) -> bool:
        return name in self._state

    def tables(self) -> list[str]:
        return sorted(self._state)

    #: Reference config knob: a container holds at most 50 columns
    #: (src/database.rs:16-25 max_columns). Parquet wouldn't care, but
    #: the cap is part of the reference's observable DDL contract.
    MAX_COLUMNS = 50

    # -- DDL ----------------------------------------------------------------
    def create_table(self, name: str, schema: list[tuple[str, str]]) -> None:
        self._check_name(name)
        with self._ddl_lock:
            if name in self._state or name in self.external or self._committed(name):
                raise ValueError(f"container {name!r} already exists")
            if len(schema) > self.MAX_COLUMNS:
                raise ValueError(
                    f"container {name!r} declares {len(schema)} columns; "
                    f"max_columns is {self.MAX_COLUMNS}"
                )
            d = self._dir(name)
            if os.path.lexists(d):
                # schema.json is written last: a directory of the
                # warehouse's own files without it (or without CURRENT)
                # is what a create cut short left behind
                if os.path.islink(d) or not os.path.isdir(d) or not all(map(_OWN_ENTRY.fullmatch, os.listdir(d))):
                    raise ValueError(f"{d!r} exists and is not a container")
                shutil.rmtree(d)
            os.makedirs(d)

            def no_files(staged: str) -> list[str]:
                os.makedirs(staged)
                return []

            self._write_snapshot(name, 0, no_files)
            tmp = self._schema_path(name) + f".tmp_{uuid.uuid4().hex}"
            with open(tmp, "w") as f:
                json.dump(schema, f)
            os.replace(tmp, self._schema_path(name))
            self._state[name] = _TableState(schema=schema)

    def drop_table(self, name: str) -> None:
        st = self._state.get(name)
        if st is None:
            raise ValueError(f"no such container {name!r}")
        with self._ddl_lock, st.lock:
            del self._state[name]
            shutil.rmtree(self._dir(name), ignore_errors=True)
        for key in list(self._snapshots):
            if key[0] == name:
                self._snapshots.pop(key, None)

    # -- reads ---------------------------------------------------------------
    def read_committed(self, name: str, version: int | None = None) -> DataFrame:
        """A committed snapshot: the fold of its manifest's entries. A
        manifest never changes once renamed into place, so its DataFrame
        (resolved relations, file listings and ops) is built once, by
        the commit that wrote it or at the first read, and reused while
        the manifest lives; the inode tells a manifest apart from a
        later one of the same version (a container dropped and created
        again)."""
        return self._snapshot(name, self._current_version(name) if version is None else version)[1]

    def _snapshot(self, name: str, v: int) -> tuple[_Fold, DataFrame]:
        """Version ``v``'s fold and its DataFrame, reused or built."""
        ino = os.stat(os.path.join(self._snapshot_path(name, v), MANIFEST)).st_ino
        hit = self._snapshots.get((name, v))
        if hit is not None and hit[0] == ino:
            return hit[1:]
        fold = _Fold().then(list(self._manifest(name, v).entries))
        df = self._frame(name, fold)
        self._snapshots[(name, v)] = (ino, fold, df)
        return fold, df

    def _frame(self, name: str, fold: _Fold) -> DataFrame:
        """The DataFrame of ``fold``: its scan (built if missing), its
        filter and its projection, where it has them."""
        if fold.scan is None:
            paths = [os.path.join(self._dir(name), f) for f in fold.files]
            fold.scan = self.spark.read.schema(self.spark_schema(name)).parquet(*paths)
        df = fold.scan if fold.keep is None else fold.scan.filter(fold.keep)
        if fold.values:
            df = df.select(*[fold.values.get(c.lower(), F.col(c)).alias(c) for c, _ in self._state[name].schema])
        return df

    def _versions(self, name: str) -> list[int]:
        d = self._dir(name)
        return sorted(
            _version(e)
            for e in os.listdir(d)
            if _version(e) is not None and os.path.isfile(os.path.join(d, e, MANIFEST))
        )

    def versions(self, name: str) -> list[int]:
        """Snapshot versions whose manifest is retained (current + the
        previous — SURVEY §4.3 keeps one back for readers mid-flight —
        and any older one still pinned)."""
        if name not in self._state:
            raise KeyError(f"no such container {name!r}")
        return self._versions(name)

    def read_version(self, name: str, version: int) -> DataFrame:
        """Time-travel read of a retained snapshot version (the snapshot
        chain is the same mechanism Delta/Iceberg expose as AS OF)."""
        if version not in self.versions(name):
            raise KeyError(f"{name!r} has no retained snapshot v{version}")
        return self.read_committed(name, version)

    def pin(self, name: str) -> int:
        """Pin the current snapshot of a container and return its
        version: COMMITs do not retire it until ``unpin``, so a reader
        that keeps going back to it (a keyset cursor) still finds it."""
        with self._pins_lock:
            v = self._current_version(name)
            self._pins[(name, v)] += 1
            return v

    def unpin(self, pins: dict[str, int]) -> None:
        """Release pins (container → version) taken by ``pin`` and retire
        what they alone kept."""
        with self._pins_lock:
            for name, v in pins.items():
                self._pins[(name, v)] -= 1
                if self._pins[(name, v)] <= 0:
                    del self._pins[(name, v)]
                if name in self._state:
                    self._retire(name)

    def _retire(self, name: str) -> None:
        """Remove the manifests older than the previous version and not
        pinned, then every ``v_k`` directory below CURRENT that no
        retained manifest lists a file in (caller holds the pin lock)."""
        d = self._dir(name)
        current = self._current_version(name)
        live: set[str] = set()
        for v in self._versions(name):
            if v >= current - 1 or (name, v) in self._pins:
                live.add(f"v_{v}")
                live.update(f.split("/", 1)[0] for f in self._manifest(name, v).files)
            else:
                os.remove(os.path.join(d, f"v_{v}", MANIFEST))
                self._snapshots.pop((name, v), None)
        for entry in os.listdir(d):
            k = _version(entry)
            if k is not None and k < current and entry not in live:
                shutil.rmtree(os.path.join(d, entry), ignore_errors=True)

    def _recover(self, name: str) -> None:
        """Remove what a commit cut short left behind: staged
        directories, CURRENT temp files and snapshots above CURRENT."""
        d = self._dir(name)
        current = self._current_version(name)
        self._manifest(name, current)  # raises when the snapshot is unreadable
        for entry in os.listdir(d):
            path = os.path.join(d, entry)
            k = _version(entry)
            if entry.startswith("_staged_") or (k is not None and k > current):
                shutil.rmtree(path, ignore_errors=True)
            elif entry.startswith(".current_"):
                os.remove(path)
        with self._pins_lock:
            self._retire(name)

    def read(self, name: str, version: int | None = None) -> DataFrame:
        """Committed snapshot + staged-op overlay (MVCC-buffer read).
        ``version`` picks a retained snapshot of a container (default
        the current one)."""
        if name in self._state:
            st = self._state[name]
            with st.lock:
                df = self.read_committed(name, version)
                ops = list(st.ops)
            return self._overlay(name, df, ops)
        if name in self.external:
            return self.external[name]
        raise KeyError(f"no such container {name!r}")

    def _overlay(self, name: str, df: DataFrame, ops: list[_Op]) -> DataFrame:
        """Staged ``ops`` applied to ``df`` in order: each run of staged
        inserts adds its rows as ONE Arrow table, which the JVM decodes
        (no Python worker), and an edit or delete changes the rows
        before it."""
        for e in _runs(ops):
            if isinstance(e, list):
                df = df.unionByName(self.spark.createDataFrame(self._arrow(name, e), self.spark_schema(name)))
            else:
                out = _op_columns(e, {})
                df = df.filter(out) if e.kind == "delete" else df.withColumns(out)
        return df

    # -- staged writes ---------------------------------------------------------
    def _coerce_value(self, value: object, alba: str) -> object:
        """Driver-side literal coercion to the column type (the implicit
        coercion matrix, src/alba_types.rs:117-275, applied on CREATE ROW
        at src/database.rs:600-617). A value that does not fit its
        column is refused here, so no COMMIT can fail on it later."""
        t = alba.upper()
        _dt, cap = ALBA_TYPES[t]
        if t in _INT_BITS:
            n = _exact_int(value)
            bound = 1 << (_INT_BITS[t] - 1)
            if not -bound <= n < bound:
                raise ValueError(f"{value!r} is out of {t} range")
            return n
        if t == "FLOAT":
            return float(value)
        if t == "BOOL":
            if isinstance(value, bool):
                return value
            s = str(value).strip().lower()
            if s in ("1", "t", "true"):
                return True
            if s in ("0", "f", "false"):
                return False
            raise ValueError(f"cannot coerce {value!r} to BOOL")
        if t == "NONE":  # the unit type holds no value (SURVEY §1.2)
            return None
        if t.endswith("BYTES"):
            b = value if isinstance(value, (bytes, bytearray)) else base64.b64decode(str(value))
            return bytes(b)[:cap] if cap else bytes(b)
        s = base64.b64encode(value).decode() if isinstance(value, (bytes, bytearray)) else str(value)
        return s[:cap] if cap else s

    def stage_insert(self, name: str, columns: list[str], values: list[object]) -> None:
        st = self._state[name]
        schema = dict(st.schema)
        unknown = [c for c in columns if c not in schema]
        if unknown:
            raise ValueError(f"unknown columns {unknown} on {name!r}")
        # zero-defaults for unset columns — the reference has no NULL
        # (src/database.rs:568 starts from the column defaults)
        row = {col: zero_default(alba) for col, alba in st.schema}
        for c, v in zip(columns, values):
            row[c] = self._coerce_value(v, schema[c])
        with st.lock:
            st.ops.append(_Op("insert", rows=[row]))

    def stage_edit(self, name: str, columns, values, conditions) -> None:
        st = self._state[name]
        schema = dict(st.schema)
        assignments = {}
        for c, v in zip(columns, values):
            if c not in schema:
                raise ValueError(f"unknown column {c!r} on {name!r}")
            assignments[c] = self._coerce_value(v, schema[c])
        self._check_conditions(name, conditions)
        with st.lock:
            st.ops.append(_Op("edit", assignments=assignments, conditions=conditions))

    def stage_delete(self, name: str, conditions) -> None:
        st = self._state[name]
        self._check_conditions(name, conditions)
        with st.lock:
            st.ops.append(_Op("delete", conditions=conditions))

    def _check_conditions(self, name: str, conditions) -> None:
        """Raise what Spark raises for a condition it cannot evaluate on
        ``name``'s columns, with no Spark job: each condition is planned
        over one row of the columns' zero defaults as literals, and the
        optimizer folds it. That finds an unknown column, a mistyped
        literal, a bad regex, and a string column compared with a number
        or bool (its zero default '' does not cast). A staged op runs at
        every read, and a committed one at every read after it: one
        that fails would fail them all."""
        if not conditions[0]:
            return
        st = self._state[name]
        if st.zero is None:
            st.zero = self.spark.sql("SELECT 1").select(
                *[F.lit(zero_default(alba)).cast(ALBA_TYPES[alba][0]).alias(c) for c, alba in st.schema]
            )
        checked = st.zero.select(*(compile_condition(*c) for c in conditions[0]))
        checked._jdf.queryExecution().optimizedPlan()

    # -- commit / rollback --------------------------------------------------
    def stats(self, name: str) -> dict[str, int]:
        """The current snapshot of ``name`` as its manifest tells it (no
        Spark job): version, files, committed ops, entries appended since
        the last rewrite, and the bytes of its files."""
        v = self._current_version(name)
        m = self._manifest(name, v)
        return {
            "version": v,
            "files": len(m.files),
            "ops": len(m.entries) - len(m.files),
            "appended": m.appended,
            "bytes": sum(os.path.getsize(os.path.join(self._dir(name), f)) for f in m.files),
        }

    # below this snapshot size a rewrite writes ONE file: a small table
    # written as one file per input partition is many tiny files and as
    # many tasks for every later read. coalesce (not repartition): no
    # shuffle, so the write stays one Spark job.
    _SMALL_TABLE_BYTES = 64 << 20

    def _one_file_if_small(self, name: str, df: DataFrame) -> DataFrame:
        return df.coalesce(1) if self.stats(name)["bytes"] < self._SMALL_TABLE_BYTES else df

    def _write_entries(self, name: str, new: list[list[dict] | _Op], staged: str) -> list[_Entry]:
        """The entries of ``new`` in ``staged``: each list of staged rows
        written from the driver as one Parquet file (pyarrow, no Spark
        job) and named by it, each edit or delete as it is."""
        os.makedirs(staged)
        out: list[_Entry] = []
        for e in new:
            if isinstance(e, list):
                fname = f"part-{uuid.uuid4().hex}.parquet"
                pq.write_table(self._arrow(name, e), os.path.join(staged, fname))
                e = fname
            out.append(e)
        return out

    @staticmethod
    def _write_df(df: DataFrame, staged: str) -> list[str]:
        """Write ``df`` with Spark (one job) to ``staged``; returns the
        Parquet files it wrote."""
        df.write.parquet(staged)
        return _parquet_files(staged)

    @staticmethod
    def _write_manifest(staged: str, manifest: _Manifest) -> None:
        with open(os.path.join(staged, MANIFEST), "w") as f:
            entries = [_entry_json(e) for e in manifest.entries]
            json.dump({"entries": entries, "appended": manifest.appended}, f, allow_nan=False)

    def _flip_current(self, name: str, version: int) -> None:
        tmp = os.path.join(self._dir(name), f".current_{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            f.write(str(version))
        os.replace(tmp, os.path.join(self._dir(name), CURRENT))

    def _write_snapshot(
        self,
        name: str,
        version: int,
        write: Callable[[str], list[_Entry]],
        base: _Manifest | None = None,
    ) -> None:
        """Commit snapshot ``version``: the entries of ``base`` (version
        - 1) followed by the ones ``write(staged)`` returns, its files
        written to a staged directory; without ``base`` the snapshot is a
        rewrite, ``write``'s files alone. The staged directory gets the
        manifest and is renamed to ``v_<version>`` (failing when that
        version exists), then CURRENT flips (write-temp + rename, SURVEY
        §4.3). An append registers its fold: version - 1's, extended by
        the new entries, and its DataFrame, built before the flip, so an
        entry that cannot be applied fails the commit. What a commit that
        raises had written is removed."""
        staged = os.path.join(self._dir(name), f"_staged_{uuid.uuid4().hex}")
        final = self._snapshot_path(name, version)
        try:
            new = [f"v_{version}/{e}" if isinstance(e, str) else e for e in write(staged)]
            self._write_manifest(staged, _Manifest(tuple(new)) if base is None else base.then(new))
            os.rename(staged, final)
        except BaseException:
            shutil.rmtree(staged, ignore_errors=True)
            raise
        try:
            if base is not None:
                fold = self._snapshot(name, version - 1)[0].then(new)
                snapshot = (os.stat(os.path.join(final, MANIFEST)).st_ino, fold, self._frame(name, fold))
            self._flip_current(name, version)
        except BaseException:
            shutil.rmtree(final, ignore_errors=True)
            raise
        if base is not None:
            self._snapshots[(name, version)] = snapshot
        # retire older snapshots (keep previous for readers mid-flight)
        with self._pins_lock:
            self._retire(name)

    def commit(self, name: str | None = None) -> None:
        names = [name] if name else [n for n, st in list(self._state.items()) if st.ops]
        for n in names:
            st = self._state[n]
            with st.lock:
                if st.ops:
                    self._commit(n, st.ops)
                    st.ops.clear()

    def _commit(self, name: str, ops: list[_Op]) -> None:
        """Write ``ops`` as the next snapshot (caller holds the lock):
        appended to the manifest in staging order, each run of inserts
        as one driver-written file, while the snapshot has room for the
        entries and its fold takes the ops; else one Spark rewrite of
        the committed snapshot with ``ops`` overlaid."""
        version = self._current_version(name) + 1
        old = self._manifest(name, version - 1)
        new = _runs(ops)
        if old.then(new).appended <= MAX_APPENDED_FILES and self._snapshot(name, version - 1)[0].takes(ops):
            self._write_snapshot(name, version, lambda s: self._write_entries(name, new, s), old)
            return
        df = self._one_file_if_small(name, self._overlay(name, self.read_committed(name, version - 1), ops))
        self._write_snapshot(name, version, lambda s: self._write_df(df, s))

    def rollback(self, name: str | None = None) -> None:
        names = [name] if name else list(self._state)
        for n in names:
            st = self._state[n]
            with st.lock:
                st.ops.clear()

    @contextmanager
    def _unstaged(self, name: str):
        """Hold ``name``'s lock, refusing a container with staged ops."""
        st = self._state.get(name)
        if st is None:
            raise ValueError(f"no such container {name!r}")
        with st.lock:
            if st.ops:
                raise RuntimeError(f"{name!r} has staged ops; COMMIT or ROLLBACK first")
            yield

    def append_df(self, name: str, df: DataFrame) -> int:
        """Commit ``df``'s rows as a new snapshot version in one step (the
        bulk-append path streaming sinks use — no per-row staging): its
        files are appended after the committed entries, or, once the
        snapshot holds MAX_APPENDED_FILES appended entries, rewritten
        with their fold. Columns are matched by name against the table
        schema. Returns the new version."""
        with self._unstaged(name):
            schema = self.spark_schema(name)
            batch = df.select(*[F.col(f.name).cast(f.dataType) for f in schema.fields])
            version = self._current_version(name) + 1
            old = self._manifest(name, version - 1)
            if old.appended >= MAX_APPENDED_FILES:
                batch, old = self.read_committed(name, version - 1).unionByName(batch), None
            batch = self._one_file_if_small(name, batch)
            self._write_snapshot(name, version, lambda s: self._write_df(batch, s), old)
            return version

    # -- maintenance ---------------------------------------------------------
    _TARGET_FILE_BYTES = 128 << 20

    def compact(self, name: str, target_file_bytes: int | None = None) -> int:
        """Rewrite the current snapshot into ~target-sized files (the
        OPTIMIZE/compaction pass every copy-on-write table needs: many
        small commits → many small files → scan-planning and open()
        overhead dominates at scale). Staged ops are not touched; returns
        the new file count."""
        with self._unstaged(name):
            target = target_file_bytes or self._TARGET_FILE_BYTES
            nfiles = max(1, -(-self.stats(name)["bytes"] // target))  # ceil
            version = self._current_version(name) + 1
            df = self.read_committed(name, version - 1).repartition(nfiles)
            self._write_snapshot(name, version, lambda s: self._write_df(df, s))
            return nfiles
