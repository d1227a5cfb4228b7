"""Warehouse: mutable-table semantics over immutable Parquet files.

Reproduces the reference's transactional surface (SURVEY §2.5):
- MVCC write buffer → an in-memory, per-table op log (inserts / edits /
  deletes) overlaid on the committed snapshot at read time (reference
  overlays its buffer over the file in get_rows, src/container.rs:354-363).
- COMMIT → write only what changed as new Parquet files, then atomically
  flip a CURRENT pointer to a new snapshot manifest (the reference writes
  the buffered rows into their slots, src/container.rs:248-342; Parquet
  page checksums + atomic rename replace its strix checksum daemon and
  graveyard slot reuse, src/strix.rs:18-56, SURVEY §4.3).
- ROLLBACK → drop the op log (src/container.rs:241-247).
- Per-table (not cross-table) atomicity, matching the reference
  (Database::commit loops containers independently, src/database.rs:252-261).

On disk a container is a directory::

    schema.json   column names and ALBA types
    CURRENT       the committed version n
    v_<k>/        the Parquet files commit k wrote, plus its manifest
                  (manifest.json) while version k is retained

A snapshot is its manifest: the list of every file it holds, each
stored in some ``v_k/``, and the count of files appended since the
last rewrite. What a COMMIT writes depends on what it holds:
- only inserts (auto-commit CREATE ROW included): the staged rows are
  on the driver already, so pyarrow writes them as ONE file and the new
  manifest is the old one plus that file. No Spark job (a Spark write
  of the same rows pays a job, a task and a Python-worker round trip,
  hundreds of milliseconds for a few rows). The commit that
  would append past MAX_APPENDED_FILES rewrites instead, so the file
  list stays bounded.
- any edit or delete: one Spark job rewrites the overlay (committed
  files + staged ops) into new files, one file for a small table; this
  also folds in the files earlier insert commits appended.
``append_df`` writes a batch's files with Spark next to the old ones;
``compact`` rewrites to target-sized files.

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
lists a file in it. One lock per container serialises staging, the
op-list read of ``read``, COMMIT and ROLLBACK.

Scale: this is the copy-on-write pattern Delta/Iceberg formalize (a
manifest of immutable files, swapped atomically); reads stay
pushdown-able and partition-prunable, writes are new files + one
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
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tytodb_spark.functions.tyto import ALBA_TYPES, zero_default
from tytodb_spark.operators.predicates import compile_chain

CURRENT = "CURRENT"
MANIFEST = "manifest.json"
#: Most files insert-only commits and ``append_df`` add to a snapshot
#: between two rewrites. Spark lists more than 32 input paths with a
#: job of its own (parallelPartitionDiscovery.threshold), and every file
#: costs a SEARCH an open and a footer read. The statement session's
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


@dataclass(frozen=True)
class _Manifest:
    files: tuple[str, ...] = ()  # "v_<k>/<file>", relative to the container dir
    appended: int = 0  # files added since the last rewrite


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
        #: (container, version) → (inode of its manifest, DataFrame)
        self._snapshots: dict[tuple[str, int], tuple[int, DataFrame]] = {}
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
        return _Manifest(tuple(m["files"]), m["appended"])

    # -- schema helpers ----------------------------------------------------
    def spark_schema(self, name: str) -> T.StructType:
        fields = []
        for col, alba in self._state[name].schema:
            dt, _cap = ALBA_TYPES[alba]
            fields.append(T.StructField(col, dt, True))
        return T.StructType(fields)

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
        """A committed snapshot: exactly the files its manifest lists. A
        manifest never changes once renamed into place, so its DataFrame
        (resolved relation and file listing) is built once and reused
        while the manifest lives; the inode tells a manifest apart from
        a later one of the same version (a container dropped and created
        again)."""
        v = self._current_version(name) if version is None else version
        ino = os.stat(os.path.join(self._snapshot_path(name, v), MANIFEST)).st_ino
        hit = self._snapshots.get((name, v))
        if hit is not None and hit[0] == ino:
            return hit[1]
        paths = [os.path.join(self._dir(name), f) for f in self._manifest(name, v).files]
        df = self.spark.read.schema(self.spark_schema(name)).parquet(*paths)
        self._snapshots[(name, v)] = (ino, df)
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

    def _local_df(self, name: str, rows: list[dict]) -> DataFrame:
        """Rows → ONE-slice DataFrame. ``createDataFrame(list)`` parallelizes
        into default-parallelism slices and each slice pays a Python-worker
        round-trip downstream (~130 ms each, so a 10-row staged batch costs
        ~4 s at the snapshot write); ``coalesce(1)`` afterwards is worse —
        the single task drains every slice sequentially. One slice from the
        start sidesteps both."""
        schema = self.spark_schema(name)
        data = [tuple(r[f.name] for f in schema.fields) for r in rows]
        return self.spark.createDataFrame(
            self.spark.sparkContext.parallelize(data, 1), schema
        )

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
        """``ops`` applied to ``df`` in order. Adjacent staged inserts are
        batched into ONE single-slice DataFrame: a commit after N row
        inserts would otherwise union N separate createDataFrame plans.
        Ordering across insert/edit/delete boundaries is preserved — only
        runs of consecutive inserts merge."""
        pending: list[dict] = []

        def flush(d: DataFrame) -> DataFrame:
            if not pending:
                return d
            new = self._local_df(name, pending)
            pending.clear()
            return d.unionByName(new)

        for op in ops:
            if op.kind == "insert":
                pending.extend(op.rows)
            else:
                df = self._apply_op(flush(df), op)
        return flush(df)

    def _apply_op(self, df: DataFrame, op: _Op) -> DataFrame:
        pred = compile_chain(*op.conditions) if op.conditions[0] else F.lit(True)
        if op.kind == "delete":
            return df.filter(~pred)
        if op.kind == "edit":
            for col, val in op.assignments.items():
                df = df.withColumn(col, F.when(pred, F.lit(val)).otherwise(F.col(col)))
            return df
        raise ValueError(op.kind)

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
        with st.lock:
            st.ops.append(_Op("edit", assignments=assignments, conditions=conditions))

    def stage_delete(self, name: str, conditions) -> None:
        st = self._state[name]
        with st.lock:
            st.ops.append(_Op("delete", conditions=conditions))

    # -- commit / rollback --------------------------------------------------
    def _snapshot_bytes(self, name: str) -> int:
        """On-disk size of the files of the current snapshot."""
        m = self._manifest(name, self._current_version(name))
        return sum(os.path.getsize(os.path.join(self._dir(name), f)) for f in m.files)

    # below this snapshot size a rewrite writes ONE file: a small table
    # written as one file per input partition is many tiny files and as
    # many tasks for every later read. coalesce (not repartition): no
    # shuffle, so the write stays one Spark job.
    _SMALL_TABLE_BYTES = 64 << 20

    def _one_file_if_small(self, name: str, df: DataFrame) -> DataFrame:
        return df.coalesce(1) if self._snapshot_bytes(name) < self._SMALL_TABLE_BYTES else df

    def _write_rows(self, name: str, rows: list[dict], staged: str) -> list[str]:
        """Write staged rows from the driver as one Parquet file (pyarrow,
        no Spark job) in ``staged``; returns its name."""
        schema = pa.schema(
            [(f.name, _ARROW_TYPES[f.dataType.typeName()]) for f in self.spark_schema(name).fields]
        )
        os.makedirs(staged)
        fname = f"part-{uuid.uuid4().hex}.parquet"
        pq.write_table(pa.Table.from_pylist(rows, schema=schema), os.path.join(staged, fname))
        return [fname]

    @staticmethod
    def _write_df(df: DataFrame, staged: str) -> list[str]:
        """Write ``df`` with Spark (one job) to ``staged``; returns the
        Parquet files it wrote."""
        df.write.parquet(staged)
        return _parquet_files(staged)

    @staticmethod
    def _write_manifest(staged: str, manifest: _Manifest) -> None:
        with open(os.path.join(staged, MANIFEST), "w") as f:
            json.dump({"files": list(manifest.files), "appended": manifest.appended}, f)

    def _flip_current(self, name: str, version: int) -> None:
        tmp = os.path.join(self._dir(name), f".current_{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            f.write(str(version))
        os.replace(tmp, os.path.join(self._dir(name), CURRENT))

    def _write_snapshot(
        self,
        name: str,
        version: int,
        write: Callable[[str], list[str]],
        base: _Manifest = _Manifest(),
    ) -> None:
        """Commit snapshot ``version``: the files ``base`` lists plus the
        ones ``write(staged)`` writes to a staged directory. The staged
        directory gets the manifest and is renamed to ``v_<version>``
        (failing when that version exists), then CURRENT flips (write-temp
        + rename, SURVEY §4.3). Files added to a snapshot with files
        count as appended; without ``base`` files the snapshot is a
        rewrite. What a commit that raises had written is removed."""
        staged = os.path.join(self._dir(name), f"_staged_{uuid.uuid4().hex}")
        final = self._snapshot_path(name, version)
        try:
            new = tuple(f"v_{version}/{f}" for f in write(staged))
            appended = base.appended + len(new) if base.files else 0
            self._write_manifest(staged, _Manifest(base.files + new, appended))
            os.rename(staged, final)
        except BaseException:
            shutil.rmtree(staged, ignore_errors=True)
            raise
        try:
            self._flip_current(name, version)
        except BaseException:
            shutil.rmtree(final, ignore_errors=True)
            raise
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
        insert-only ops append one driver-written file while the
        snapshot has room for it; anything else is one Spark rewrite."""
        version = self._current_version(name) + 1
        old = self._manifest(name, version - 1)
        if all(op.kind == "insert" for op in ops) and old.appended < MAX_APPENDED_FILES:
            rows = [r for op in ops for r in op.rows]
            self._write_snapshot(name, version, lambda s: self._write_rows(name, rows, s), old)
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
        files are written next to the committed ones, or, once the
        snapshot holds MAX_APPENDED_FILES appended files, rewritten with
        them. Columns are matched by name against the table schema.
        Returns the new version."""
        with self._unstaged(name):
            schema = self.spark_schema(name)
            batch = df.select(*[F.col(f.name).cast(f.dataType) for f in schema.fields])
            version = self._current_version(name) + 1
            old = self._manifest(name, version - 1)
            if old.appended >= MAX_APPENDED_FILES:
                batch, old = self.read_committed(name, version - 1).unionByName(batch), _Manifest()
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
            nfiles = max(1, -(-self._snapshot_bytes(name) // target))  # ceil
            version = self._current_version(name) + 1
            df = self.read_committed(name, version - 1).repartition(nfiles)
            self._write_snapshot(name, version, lambda s: self._write_df(df, s))
            return nfiles
