"""Warehouse: mutable-table semantics over immutable Parquet snapshots.

Reproduces the reference's transactional surface (SURVEY §2.5):
- MVCC write buffer → an in-memory, per-table op log (inserts / edits /
  deletes) overlaid on the committed snapshot at read time (reference
  overlays its buffer over the file in get_rows, src/container.rs:354-363).
- COMMIT → materialize overlay, write a NEW snapshot directory, atomically
  flip a CURRENT pointer (replaces write_all_at + strix checksum daemon +
  graveyard slot reuse, src/container.rs:248-342 / src/strix.rs:18-56 —
  Parquet page checksums + atomic rename make those obsolete, SURVEY §4.3).
- ROLLBACK → drop the op log (src/container.rs:241-247).
- Per-table (not cross-table) atomicity, matching the reference
  (Database::commit loops containers independently, src/database.rs:252-261).

Scale: snapshots are plain Parquet dirs — on a cluster this is the same
copy-on-write pattern Delta/Iceberg formalize; reads stay pushdown-able
and partition-prunable, writes are append-only files + one pointer flip.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import uuid
from collections import Counter
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tytodb_spark.functions.tyto import ALBA_TYPES, coerce, zero_default
from tytodb_spark.operators.predicates import compile_chain

CURRENT = "CURRENT"


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
        #: (container, version) → (inode of its snapshot dir, DataFrame)
        self._snapshots: dict[tuple[str, int], tuple[int, DataFrame]] = {}
        os.makedirs(root, exist_ok=True)
        for name in os.listdir(root):
            if os.path.isfile(self._schema_path(name)):
                with open(self._schema_path(name)) as f:
                    self._state[name] = _TableState(schema=[tuple(c) for c in json.load(f)])

    # -- paths ------------------------------------------------------------
    def _dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _schema_path(self, name: str) -> str:
        return os.path.join(self._dir(name), "schema.json")

    def _current_version(self, name: str) -> int:
        with open(os.path.join(self._dir(name), CURRENT)) as f:
            return int(f.read().strip())

    def _snapshot_path(self, name: str, version: int) -> str:
        return os.path.join(self._dir(name), f"v_{version}")

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
        if name in self._state or name in self.external:
            raise ValueError(f"container {name!r} already exists")
        if len(schema) > self.MAX_COLUMNS:
            raise ValueError(
                f"container {name!r} declares {len(schema)} columns; "
                f"max_columns is {self.MAX_COLUMNS}"
            )
        self._state[name] = _TableState(schema=schema)
        os.makedirs(self._dir(name), exist_ok=True)
        with open(self._schema_path(name), "w") as f:
            json.dump(schema, f)
        empty = self.spark.createDataFrame([], self.spark_schema(name))
        self._write_snapshot(name, empty, version=0)

    def drop_table(self, name: str) -> None:
        if name not in self._state:
            raise ValueError(f"no such container {name!r}")
        del self._state[name]
        shutil.rmtree(self._dir(name), ignore_errors=True)
        for key in list(self._snapshots):
            if key[0] == name:
                self._snapshots.pop(key, None)

    # -- reads ---------------------------------------------------------------
    def read_committed(self, name: str, version: int | None = None) -> DataFrame:
        """A committed snapshot. A snapshot directory never changes once
        renamed into place, so its DataFrame (resolved relation and file
        listing) is built once and reused while the directory lives; the
        inode tells a directory apart from a later one of the same name
        (a container dropped and created again)."""
        v = self._current_version(name) if version is None else version
        path = self._snapshot_path(name, v)
        try:
            ino = os.stat(path).st_ino
        except OSError:  # Spark reports the missing path
            return self.spark.read.schema(self.spark_schema(name)).parquet(path)
        hit = self._snapshots.get((name, v))
        if hit is not None and hit[0] == ino:
            return hit[1]
        df = self.spark.read.schema(self.spark_schema(name)).parquet(path)
        self._snapshots[(name, v)] = (ino, df)
        return df

    def versions(self, name: str) -> list[int]:
        """Snapshot versions still on disk (current + the retained
        previous — SURVEY §4.3 keeps one back for readers mid-flight —
        and any older one still pinned)."""
        if name not in self._state:
            raise KeyError(f"no such container {name!r}")
        return sorted(
            int(e[2:]) for e in os.listdir(self._dir(name)) if e.startswith("v_")
        )

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
        """Remove snapshots older than the previous one and not pinned
        (caller holds the pin lock)."""
        current = self._current_version(name)
        for entry in os.listdir(self._dir(name)):
            if entry.startswith("v_"):
                v = int(entry[2:])
                if v < current - 1 and (name, v) not in self._pins:
                    shutil.rmtree(os.path.join(self._dir(name), entry), ignore_errors=True)
                    self._snapshots.pop((name, v), None)

    def read(self, name: str, version: int | None = None) -> DataFrame:
        """Committed snapshot + staged-op overlay (MVCC-buffer read).
        ``version`` picks a retained snapshot of a container (default
        the current one).

        Adjacent staged inserts are batched into ONE single-slice
        DataFrame: a commit after N row inserts would otherwise union N
        separate createDataFrame plans. Ordering across insert/edit/delete
        boundaries is preserved — only runs of consecutive inserts merge."""
        if name in self._state:
            df = self.read_committed(name, version)
            pending: list[dict] = []

            def flush(d: DataFrame) -> DataFrame:
                if not pending:
                    return d
                new = self._local_df(name, pending)
                pending.clear()
                return d.unionByName(new)

            for op in self._state[name].ops:
                if op.kind == "insert":
                    pending.extend(op.rows)
                else:
                    df = self._apply_op(name, flush(df), op)
            return flush(df)
        if name in self.external:
            return self.external[name]
        raise KeyError(f"no such container {name!r}")

    def _apply_op(self, name: str, df: DataFrame, op: _Op) -> DataFrame:
        if op.kind == "insert":
            return df.unionByName(self._local_df(name, op.rows))
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
        at src/database.rs:600-617)."""
        import base64 as _b64

        t = alba.upper()
        _dt, cap = ALBA_TYPES[t]
        if t in ("INT", "BIGINT"):
            return int(float(value)) if not isinstance(value, bool) else int(value)
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
        if t.endswith("BYTES"):
            b = value if isinstance(value, (bytes, bytearray)) else _b64.b64decode(str(value))
            return bytes(b)[:cap] if cap else bytes(b)
        s = _b64.b64encode(value).decode() if isinstance(value, (bytes, bytearray)) else str(value)
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
        st.ops.append(_Op("insert", rows=[row]))

    def stage_edit(self, name: str, columns, values, conditions) -> None:
        st = self._state[name]
        schema = dict(st.schema)
        assignments = {}
        for c, v in zip(columns, values):
            if c not in schema:
                raise ValueError(f"unknown column {c!r} on {name!r}")
            assignments[c] = self._coerce_value(v, schema[c])
        st.ops.append(_Op("edit", assignments=assignments, conditions=conditions))

    def stage_delete(self, name: str, conditions) -> None:
        self._state[name].ops.append(_Op("delete", conditions=conditions))

    # -- commit / rollback --------------------------------------------------
    def _snapshot_bytes(self, name: str) -> int:
        """On-disk size of the current snapshot (0 for a fresh table)."""
        try:
            path = self._snapshot_path(name, self._current_version(name))
            return sum(
                os.path.getsize(os.path.join(path, f))
                for f in os.listdir(path)
                if not f.startswith("_")
            )
        except OSError:
            return 0

    # below this snapshot size a commit writes ONE file — a small table
    # rewritten through 32 shuffle partitions is 32 tiny files and 32
    # tasks of pure overhead; large tables keep their parallel write.
    # repartition (not coalesce): upstream stages keep their parallelism
    # and only the final write funnels through one task.
    _SMALL_TABLE_BYTES = 64 << 20

    def _write_snapshot(self, name: str, df: DataFrame, version: int) -> None:
        """Write parquet to a staged dir, atomic-rename into place, then
        flip CURRENT via write-temp + rename (SURVEY §4.3)."""
        final = self._snapshot_path(name, version)
        staged = os.path.join(self._dir(name), f"_staged_{uuid.uuid4().hex}")
        if self._snapshot_bytes(name) < self._SMALL_TABLE_BYTES:
            df = df.repartition(1)
        df.write.mode("overwrite").parquet(staged)
        os.rename(staged, final)
        tmp = os.path.join(self._dir(name), f".current_{uuid.uuid4().hex}"
        )
        with open(tmp, "w") as f:
            f.write(str(version))
        os.rename(tmp, os.path.join(self._dir(name), CURRENT))
        # retire older snapshots (keep previous for readers mid-flight)
        with self._pins_lock:
            self._retire(name)

    def commit(self, name: str | None = None) -> None:
        names = [name] if name else [n for n, st in self._state.items() if st.ops]
        for n in names:
            st = self._state[n]
            if not st.ops:
                continue
            df = self.read(n)  # overlay view
            self._write_snapshot(n, df, self._current_version(n) + 1)
            st.ops.clear()

    def rollback(self, name: str | None = None) -> None:
        names = [name] if name else list(self._state)
        for n in names:
            self._state[n].ops.clear()

    def append_df(self, name: str, df: DataFrame) -> int:
        """Commit `committed ∪ df` as a new snapshot version in one step
        (the bulk-append path streaming sinks use — no per-row staging).
        Columns are matched by name against the table schema. Returns the
        new version."""
        if name not in self._state:
            raise ValueError(f"no such container {name!r}")
        if self._state[name].ops:
            raise RuntimeError(f"{name!r} has staged ops; COMMIT or ROLLBACK first")
        cols = [c for c, _ in self._state[name].schema]
        batch = df.select(
            *[F.col(c).cast(self.spark_schema(name)[c].dataType) for c in cols]
        )
        version = self._current_version(name) + 1
        self._write_snapshot(name, self.read_committed(name).unionByName(batch), version)
        return version

    # -- maintenance ---------------------------------------------------------
    _TARGET_FILE_BYTES = 128 << 20

    def compact(self, name: str, target_file_bytes: int | None = None) -> int:
        """Rewrite the current snapshot into ~target-sized files (the
        OPTIMIZE/compaction pass every copy-on-write table needs: many
        small commits → many small files → scan-planning and open()
        overhead dominates at scale). Staged ops are not touched; returns
        the new file count."""
        if self._state.get(name) and self._state[name].ops:
            raise RuntimeError(f"{name!r} has staged ops; COMMIT or ROLLBACK first")
        target = target_file_bytes or self._TARGET_FILE_BYTES
        nfiles = max(1, -(-self._snapshot_bytes(name) // target))  # ceil
        df = self.read_committed(name).repartition(nfiles)
        self._write_snapshot(name, df, self._current_version(name) + 1)
        return nfiles
