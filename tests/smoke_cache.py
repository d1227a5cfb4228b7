"""Compute-once cache of registry query results at the sf0.001 smoke
scale, with background prefetch — the refs-suite sibling of the
oracle-differential's threaded fixture.

The ~30 ``test_round*_refs`` modules re-run declared queries serially
(~190 executions whose per-run cost at sf0.001 is the local
job-scheduling floor, not data — the same latency profile the bench
warm pass and the differential fixture already overlap; guide §2.6).
Every one of those runs goes through its module's ``_rows`` helper,
which delegates here: a result is computed once per query name and
shared, and a 12-thread prefetcher walks the names the refs modules
consume (extracted from their sources, in pytest's alphabetical module
order) so results are usually ready before their test asks.

Safety is the differential fixture's argument, narrowed: the prefetch
runs ONLY registry queries at ONE scale factor, each name at most once
(work-stealing dedup below), every query's temp dirs are
mkdtemp-unique, and since r12 the four fixed-name temp objects
(q55's managed tables, q56/q63's views, doc_terms' UDTF input view)
are call-unique and dropped eagerly — so no two in-flight queries can
touch the same session object. Foreground tests that execute queries
directly (e.g. q506 in test_round9w) at most duplicate work the
prefetcher also does; they share no named state with it.

Work-stealing: a test whose query has not been STARTED computes it on
the calling thread (no priority inversion behind the prefetch queue);
if the prefetcher already started it, the test waits on that future.
Checkpoint pins accumulate for the suite's remainder exactly like the
differential fixture's (sf0.001 barrier blocks are KB-sized).
"""

from __future__ import annotations

import glob
import os
import re
import threading

from tests.conftest import SF_SMOKE
from tytodb_spark.queries import REGISTRY

_LOCK = threading.Lock()
_STARTED: dict[str, threading.Event] = {}
_RESULTS: dict[str, object] = {}
_PREFETCH_ON = False


def _run_one(spark, name: str, done: threading.Event) -> None:
    try:
        _RESULTS[name] = REGISTRY[name].fn(spark, SF_SMOKE).collect()
    except BaseException as e:  # cached: every consumer fails loudly
        _RESULTS[name] = e
    finally:
        done.set()


def _refs_names() -> list[str]:
    """Registry names referenced by the refs modules, in the order
    pytest will consume them (alphabetical module order, source order
    within a module)."""
    names: list[str] = []
    seen: set[str] = set()
    here = os.path.dirname(os.path.abspath(__file__))
    for path in sorted(glob.glob(os.path.join(here, "test_round*_refs.py"))):
        with open(path) as fh:
            src = fh.read()
        for m in re.finditer(r'"(q\d+_[a-z0-9_]+)"', src):
            n = m.group(1)
            if n in REGISTRY and n not in seen:
                seen.add(n)
                names.append(n)
    return names


def _start_prefetch(spark) -> None:
    import queue as _queue

    work: _queue.SimpleQueue = _queue.SimpleQueue()
    for n in _refs_names():
        work.put(n)

    def _drain() -> None:
        while True:
            try:
                n = work.get_nowait()
            except _queue.Empty:
                return
            with _LOCK:
                if n in _STARTED:
                    continue  # a test already stole it
                done = threading.Event()
                _STARTED[n] = done
            _run_one(spark, n, done)

    # 12 threads: the differential fixture measured 16 near-ideal on an
    # otherwise idle local[32]; here the foreground test keeps running,
    # so leave it headroom. Daemons: an aborted session must not hang
    # on a mid-flight Spark job.
    for _ in range(12):
        threading.Thread(target=_drain, daemon=True).start()


def rows(spark, sf_dir: str, name: str):
    """Drop-in body for the refs modules' ``_rows`` helpers."""
    if sf_dir != SF_SMOKE or name not in REGISTRY:
        return REGISTRY[name].fn(spark, sf_dir).collect()
    global _PREFETCH_ON
    with _LOCK:
        if not _PREFETCH_ON:
            _PREFETCH_ON = True
            _start_prefetch(spark)
        done = _STARTED.get(name)
        mine = done is None
        if mine:
            done = threading.Event()
            _STARTED[name] = done
    if mine:
        _run_one(spark, name, done)
    done.wait()
    res = _RESULTS[name]
    if isinstance(res, BaseException):
        raise res
    # shallow copy: callers sort in place; Row objects are shared
    return list(res)
