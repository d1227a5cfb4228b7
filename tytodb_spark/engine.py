"""Engine: execute AQL statements against a Warehouse — the in-process
equivalent of the reference's whole network stack (SURVEY §3.1: the
HTTP/AES-GCM protocol layer collapses to `Engine.execute(command, args)`;
the driver talks to PySpark in-process).

SEARCH compiles to one declarative DataFrame expression
(select → filter → unionByName over sources) and Catalyst does the
access-path work the reference hand-rolls (query_type,
src/query_conditions.rs:495-593): pushdown, pruning, reordering.
Statements run in the engine's own session (session.statement_session),
which evaluates expressions without generating code: a statement's
literals would otherwise make Spark compile new classes for each one.

Cursor statements (QYCNNXT/QYCNPVS/QYCNEXT, src/query.rs:110-214) page
the result 100 rows at a time (PAGE_SIZE, src/query.rs:9). Like the
reference, a SEARCH materializes its result once: one Spark action
collects up to `_held_cap` + 1 rows, and a result that fits is sorted on
the driver and held by its cursor, so every page is a list slice with
no Spark job. `_held_cap` is CAP rows or fewer: the rows one cursor
holds take at most HELD_BYTES of driver memory, worked out from the
declared width of each column (functions/tyto.py ALBA_TYPES), or
measured over the result when a column is unbounded (TEXT, variable-
width external columns). A larger result pages through a KeysetCursor,
one distributed top-k per page, over container snapshots pinned until
the cursor closes. At most MAX_CURSORS cursors stay open; the least
recently used is closed past that.
"""

from __future__ import annotations

import math
import threading
import uuid
from collections import OrderedDict
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tytodb_spark.aql import ast
from tytodb_spark.aql.parser import parse
from tytodb_spark.operators.predicates import compile_chain
from tytodb_spark.session import statement_session
from tytodb_spark.storage.warehouse import Warehouse

PAGE_SIZE = 100  # reference src/query.rs:9
#: Largest SEARCH result (100 pages) held on the driver by its cursor.
CAP = 100 * PAGE_SIZE
#: Most driver memory the rows one cursor holds may take.
HELD_BYTES = 16 << 20
#: Open cursors per engine; each holds at most HELD_BYTES of rows.
MAX_CURSORS = 32

# Driver memory of a collected Row, as upper bounds: the Row itself
# (tuple, field list, instance dict) and per value its slots plus the
# value object — a number, date or timestamp at most a Decimal's 104
# bytes, a str or bytes a header of at most 80 bytes plus its payload.
_ROW_BYTES = 256
_SLOT_BYTES = 16
_FIXED_BYTES = 112
_HEADER_BYTES = 96
_FIXED_TYPES = (T.NumericType, T.BooleanType, T.NullType, T.DatetimeType, T.AnsiIntervalType)


def value_bytes(dt: T.DataType, cap: int | None = None) -> int | None:
    """Most driver memory one value of type ``dt`` can take, with
    ``cap`` its declared ALBA size (characters of a string, bytes of a
    binary); None where unbounded."""
    if isinstance(dt, _FIXED_TYPES):
        return _SLOT_BYTES + _FIXED_BYTES
    if cap is not None and isinstance(dt, (T.StringType, T.BinaryType)):
        # a str holds up to 4 bytes a character
        return _SLOT_BYTES + _HEADER_BYTES + cap * (4 if isinstance(dt, T.StringType) else 1)
    return None


def _measured_bytes(c, dt: T.DataType):
    """Column: the driver memory of the value in ``c``, bounded as in
    ``value_bytes``, for the types that have no declared width."""
    fixed = value_bytes(dt)
    if fixed is not None:
        return F.lit(fixed)
    if isinstance(dt, T.StringType):
        payload = 4 * F.length(c)
    elif isinstance(dt, T.BinaryType):
        payload = F.octet_length(c)
    elif isinstance(dt, T.ArrayType):
        payload = F.aggregate(c, F.lit(0).cast("long"), lambda n, x: n + _measured_bytes(x, dt.elementType))
    else:  # maps and structs, which no container holds: by their JSON text
        payload = 4 * F.length(F.to_json(F.array(c)))
    return _SLOT_BYTES + _HEADER_BYTES + F.coalesce(payload, F.lit(0))


@dataclass
class Result:
    """Outcome of one statement. ``page`` holds the rows of a
    row-returning statement; ``query_id`` is set for SEARCH (cursor
    handle)."""

    ok: bool = True
    page: list[Row] | None = None
    query_id: str | None = None
    message: str = ""

    def rows(self) -> list[dict]:
        return [r.asDict(recursive=True) for r in self.page or []]


def sort_key(schema: T.StructType):
    """Key function that orders collected rows as Spark's ascending
    ``orderBy(*columns)`` does: NULL first, NaN after every other
    number, ``-0.0`` equal to ``0.0``, strings and bytes by their
    unsigned bytes (Python's code-point order is UTF-8 byte order),
    arrays element by element, then by length."""
    cols = [_value_key(f.dataType) for f in schema.fields]
    return lambda row: tuple(k(v) for k, v in zip(cols, row))


def _value_key(dt: T.DataType):
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        inner = lambda v: (1, 0.0) if math.isnan(v) else (0, v)  # noqa: E731
    elif isinstance(dt, T.ArrayType):  # external tables: embeddings
        elem = _value_key(dt.elementType)
        inner = lambda v: [elem(x) for x in v]  # noqa: E731
    else:
        inner = lambda v: v  # noqa: E731
    return lambda v: (0,) if v is None else (1, inner(v))


def keyset_page(
    df: DataFrame,
    keys: list[str],
    after: tuple | None = None,
    page_size: int = PAGE_SIZE,
    skip: int = 0,
) -> DataFrame:
    """Seek-based page: ``WHERE (keys...) >= after ORDER BY keys
    OFFSET skip LIMIT n``, where ``skip`` counts the rows equal to
    ``after`` that earlier pages already returned.

    The engine's path for a SEARCH result its cursor cannot hold. Each page
    compiles to a distributed top-k (TakeOrderedAndProject) over a
    pushed-down composite-key range filter: no Window, no global sort,
    no cached materialization. With ``keys`` = all columns, rows equal
    on every key are identical (up to the sign of a zero), so repeats
    straddling a page boundary are neither dropped nor doubled.
    """
    if after is not None:
        types = {f.name: f.dataType for f in df.schema.fields}
        bound = F.struct(*[F.lit(v).cast(types[k]) for k, v in zip(keys, after)])
        df = df.filter(F.struct(*[F.col(k) for k in keys]) >= bound)
    df = df.orderBy(*keys)
    if skip:
        df = df.offset(skip)
    return df.limit(page_size)


class KeysetCursor:
    """Forward/backward cursor over ``keyset_page``.

    NEXT seeks from the last key of the current page; PREV re-seeks
    from a stack of page-start boundaries (O(1) bookkeeping, one top-k
    per move — state is just the boundary keys and how many rows equal
    to each were already returned, never the result set, so a
    million-page cursor holds a million tuples at most on the driver
    and nothing on the executors)."""

    def __init__(self, df: DataFrame, keys: list[str], page_size: int = PAGE_SIZE):
        self.df = df
        self.keys = keys
        self.page_size = page_size
        # (boundary key, rows equal to it already returned) before page i
        self._starts: list[tuple[tuple | None, int]] = [(None, 0)]
        self._key = sort_key(df.select(*keys).schema)

    @property
    def page(self) -> int:
        return len(self._starts) - 1

    def current(self) -> DataFrame:
        after, skip = self._starts[-1]
        return keyset_page(self.df, self.keys, after, self.page_size, skip)

    def next(self, rows: list[Row] | None = None) -> DataFrame:
        """Step to the next page. ``rows`` are the current page's rows
        when the caller has collected them already; otherwise its keys
        are collected here."""
        if rows is None:
            rows = self.current().select(*self.keys).collect()
        keys = [tuple(r[k] for k in self.keys) for r in rows]
        if keys:
            after, skip = self._starts[-1]
            ks = [self._key(k) for k in keys]
            same = ks.count(ks[-1])
            if after is not None and self._key(after) == ks[-1]:
                same += skip  # the whole page repeats the boundary row
            self._starts.append((keys[-1], same))
        return self.current()

    def prev(self) -> DataFrame:
        if len(self._starts) > 1:
            self._starts.pop()
        return self.current()


@dataclass
class _OpenSearch:
    """An open SEARCH: its whole result in cursor order (``held``) when
    it fits on the driver, else a KeysetCursor over its DataFrame, which
    reads the container snapshots in ``pins`` (name → version) until the
    cursor closes. Handler threads may page one cursor at once, so every
    move holds the cursor's lock."""

    n_rows: int
    held: list[Row] | None = None
    keyset: KeysetCursor | None = None
    pins: dict[str, int] = field(default_factory=dict)
    page: int = 0
    closed: bool = False
    _rows: list[Row] | None = None  # the keyset cursor's current page
    _lock: threading.Lock = field(default_factory=threading.Lock)

    @property
    def n_pages(self) -> int:
        return max(1, -(-self.n_rows // PAGE_SIZE))

    def move(self, delta: int) -> tuple[list[Row], int] | None:
        """Step ``delta`` pages, clamped to the first and last page, and
        return the rows and number of the page landed on; None once the
        cursor is closed."""
        with self._lock:
            if self.closed:
                return None
            self.page = min(max(self.page + delta, 0), self.n_pages - 1)
            if self.held is not None:
                return self.held[self.page * PAGE_SIZE : (self.page + 1) * PAGE_SIZE], self.page
            for _ in range(self.page - self.keyset.page):
                self.keyset.next(self._rows)
                self._rows = None
            for _ in range(self.keyset.page - self.page):
                self.keyset.prev()
                self._rows = None
            if self._rows is None:
                self._rows = self.keyset.current().collect()
            return self._rows, self.page

    def close(self, warehouse: Warehouse) -> None:
        """Release the snapshots, after any move under way."""
        with self._lock:
            self.closed = True
            warehouse.unpin(self.pins)


class Engine:
    def __init__(
        self,
        spark: SparkSession,
        warehouse_dir: str,
        external_tables: dict[str, DataFrame] | None = None,
        auto_commit: bool = False,
    ):
        self.spark = statement_session(spark)
        self.warehouse = Warehouse(self.spark, warehouse_dir, external_tables)
        #: open cursors, least recently used first; handler threads of
        #: the server share them, so every access holds the lock
        self._cursors: OrderedDict[str, _OpenSearch] = OrderedDict()
        self._cursors_lock = threading.Lock()
        #: commit immediately after every CREATE ROW, mirroring the
        #: reference's auto-commit connection setting which commits the
        #: insert before returning (src/database.rs:630-633). EDIT and
        #: DELETE stay staged either way, as in the reference.
        self.auto_commit = auto_commit

    # -- public API -----------------------------------------------------------
    def execute(self, command: str, args: list[str] | None = None) -> Result:
        return self.run(parse(command, args))

    def search_df(self, command: str, args: list[str] | None = None) -> DataFrame:
        """Compile a SEARCH to its full (un-paginated) DataFrame — the
        declarative surface used by declared queries and tests."""
        stmt = parse(command, args)
        if not isinstance(stmt, ast.Search):
            raise ValueError("search_df takes a SEARCH statement")
        return self._compile_search(stmt)

    def search_keyset(
        self,
        command: str,
        args: list[str] | None = None,
        keys: list[str] | None = None,
        page_size: int = PAGE_SIZE,
    ) -> KeysetCursor:
        """Open a SEARCH as a keyset cursor (the scale path; see
        ``keyset_page``). ``keys`` defaults to all projected columns —
        the same all-columns total order `_run_search` uses, so both
        cursor spellings page identically."""
        df = self.search_df(command, args)
        return KeysetCursor(df, keys or list(df.columns), page_size)

    # -- dispatch (reference src/parser.rs:533-550 → database.rs:418-925) -----
    def run(self, stmt: ast.Statement) -> Result:
        if isinstance(stmt, ast.CreateContainer):
            self.warehouse.create_table(stmt.name, stmt.columns)
            return Result(message=f"container {stmt.name!r} created")
        if isinstance(stmt, ast.CreateRow):
            self.warehouse.stage_insert(stmt.container, stmt.columns, stmt.values)
            if self.auto_commit:
                self.warehouse.commit(stmt.container)
                return Result(message="row committed (auto_commit)")
            return Result(message="row staged")
        if isinstance(stmt, ast.Search):
            return self._run_search(stmt)
        if isinstance(stmt, ast.EditRow):
            self.warehouse.stage_edit(
                stmt.container,
                stmt.columns,
                stmt.values,
                (stmt.conditions.conditions, stmt.conditions.gates),
            )
            return Result(message="edit staged")
        if isinstance(stmt, ast.DeleteRow):
            self.warehouse.stage_delete(
                stmt.container, (stmt.conditions.conditions, stmt.conditions.gates)
            )
            return Result(message="delete staged")
        if isinstance(stmt, ast.DeleteContainer):
            self.warehouse.drop_table(stmt.name)
            return Result(message=f"container {stmt.name!r} dropped")
        if isinstance(stmt, ast.Commit):
            self.warehouse.commit(stmt.container)
            return Result(message="committed")
        if isinstance(stmt, ast.Rollback):
            self.warehouse.rollback(stmt.container)
            return Result(message="rolled back")
        if isinstance(stmt, ast.CursorNext):
            return self._cursor_move(stmt.query_id, +1)
        if isinstance(stmt, ast.CursorPrev):
            return self._cursor_move(stmt.query_id, -1)
        if isinstance(stmt, ast.CursorClose):
            with self._cursors_lock:
                cur = self._cursors.pop(stmt.query_id, None)
            if cur is not None:
                cur.close(self.warehouse)
            return Result(message="cursor closed")
        raise ValueError(f"unhandled statement {stmt!r}")

    # -- SEARCH ---------------------------------------------------------------
    def _compile_search(self, stmt: ast.Search, pins: dict[str, int] | None = None) -> DataFrame:
        """The SEARCH as a DataFrame. With ``pins``, every container it
        reads is read at a snapshot version pinned in the warehouse and
        recorded there (name → version), for the caller to unpin."""
        dfs = []
        for src in stmt.sources:
            if isinstance(src, ast.Search):
                dfs.append(self._compile_search(src, pins))
                continue
            version = None
            if pins is not None and self.warehouse.exists(src):
                if src not in pins:
                    pins[src] = self.warehouse.pin(src)
                version = pins[src]
            dfs.append(self.warehouse.read(src, version))
        out = dfs[0]
        for other in dfs[1:]:
            # multi-source merge requires matching column types
            # (reference Query::join, src/query.rs:87-89)
            out = out.unionByName(other)
        if stmt.conditions.conditions:
            out = out.filter(
                compile_chain(stmt.conditions.conditions, stmt.conditions.gates)
            )
        if stmt.columns:
            out = out.select(*stmt.columns)  # intended N1 semantics (SURVEY §8)
        return out

    def _declared_bytes(self, stmt: ast.Search) -> dict[str, int | None]:
        """``value_bytes`` of each column of the SEARCH's result (by
        lower-cased name): the widest of its sources, None where a
        source's column is unbounded."""
        out: dict[str, int | None] = {}
        for src in stmt.sources:
            if isinstance(src, ast.Search):
                part = self._declared_bytes(src)
            else:
                part = {c.lower(): value_bytes(dt, cap) for c, dt, cap in self.warehouse.declared(src)}
            for c, b in part.items():
                known = out.get(c, 0)
                out[c] = None if b is None or known is None else max(b, known)
        if stmt.columns:
            out = {c.lower(): out[c.lower()] for c in stmt.columns}
        return out

    def _held_cap(self, stmt: ast.Search, df: DataFrame) -> int:
        """Most rows of this SEARCH's result its cursor may hold: CAP,
        or fewer where HELD_BYTES runs out first. With an unbounded
        column, one Spark job sizes the first CAP + 1 rows: CAP when
        they fit, else none."""
        widths = self._declared_bytes(stmt)
        if None not in widths.values():
            return min(CAP, HELD_BYTES // (_ROW_BYTES + sum(widths.values())))
        size = sum(
            (_measured_bytes(F.col("`%s`" % f.name.replace("`", "``")), f.dataType) for f in df.schema.fields),
            F.lit(_ROW_BYTES),
        )
        n, total = df.limit(CAP + 1).agg(F.count(F.lit(1)), F.sum(size)).first()
        return CAP if n <= CAP and (total or 0) <= HELD_BYTES else 0

    def _run_search(self, stmt: ast.Search) -> Result:
        pins: dict[str, int] = {}
        cur = None
        try:
            df = self._compile_search(stmt, pins)
            # Cursor order: all-columns ascending stands in for the
            # reference's storage order (slot order ≈ first-column index
            # order) and makes paging deterministic even with duplicate
            # lead values.
            cap = self._held_cap(stmt, df)
            head = df.limit(cap + 1).collect() if cap else None
            if head is not None and len(head) <= cap:
                cur = _OpenSearch(len(head), held=sorted(head, key=sort_key(df.schema)))
            else:
                cur = _OpenSearch(df.count(), keyset=KeysetCursor(df, df.columns), pins=pins)
            page, _ = cur.move(0)
        except BaseException:
            self.warehouse.unpin(pins)
            raise
        if cur.keyset is None:
            self.warehouse.unpin(pins)
        qid = uuid.uuid4().hex[:16]
        with self._cursors_lock:
            self._cursors[qid] = cur
            evicted = self._cursors.popitem(last=False)[1] if len(self._cursors) > MAX_CURSORS else None
        if evicted is not None:
            evicted.close(self.warehouse)
        return Result(page=page, query_id=qid, message=f"{cur.n_rows} rows, {cur.n_pages} pages")

    def _cursor_move(self, qid: str, delta: int) -> Result:
        with self._cursors_lock:
            cur = self._cursors.get(qid)
            if cur is not None:
                self._cursors.move_to_end(qid)
        moved = None if cur is None else cur.move(delta)
        if moved is None:
            return Result(ok=False, message=f"no such query {qid!r}")
        page, i = moved
        return Result(page=page, query_id=qid, message=f"page {i + 1}/{cur.n_pages}")
