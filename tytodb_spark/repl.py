"""Interactive AQL shell — the user-facing entry point that replaces the
reference's network server (src/database.rs:1266-1356: hyper HTTP/1 +
AES-GCM sessions + JSON `{"command", "arguments"}` envelopes). A user of
the reference sends Alba commands over that protocol; here the same
commands run in-process against a Spark-backed warehouse and responses
come back as the same JSON envelope shape `{"content", "success"}`
(reference TytoDBResponse, src/database.rs:1090-1096) on stdout.

Usage:
    python -m tytodb_spark.repl [--warehouse DIR] [--sf-dir DIR]
        [-c COMMAND [--args JSON_LIST]]

  --warehouse   table directory (created if absent; default a temp dir)
  --sf-dir      also expose the testdata parquet tables (read-only
                external sources) to SEARCH
  -c            one-shot: execute COMMAND, print the JSON response, exit
  --args        JSON list of strings bound to `?` placeholders (S12)

Interactive commands are one statement per line; `\\q` exits. SEARCH
prints the first 100-row page plus the cursor id; page with
`QYCNNXT 'id'` / `QYCNPVS 'id'`, close with `QYCNEXT 'id'`
(reference src/query.rs:110-214 cursor semantics).
"""

from __future__ import annotations

import argparse
import json
import sys
import tempfile

from tytodb_spark.engine import Engine, Result
from tytodb_spark.session import get_spark


def _envelope(res: Result) -> str:
    content: dict = {"message": res.message}
    if res.query_id is not None:
        content["query_id"] = res.query_id
    if res.page is not None:
        content["rows"] = res.rows()
    return json.dumps({"content": content, "success": res.ok}, default=str)


def _error(exc: Exception) -> str:
    return json.dumps({"content": {"message": str(exc)}, "success": False})


def run_command(engine: Engine, line: str, args: list[str] | None = None) -> str:
    try:
        return _envelope(engine.execute(line, args))
    except Exception as exc:  # parse/exec errors become protocol errors,
        return _error(exc)  # like the reference's error envelope


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="tytodb_spark.repl", description=__doc__)
    ap.add_argument("--warehouse", default=None)
    ap.add_argument("--sf-dir", default=None)
    ap.add_argument("-c", "--command", default=None)
    ap.add_argument("--args", default=None, help="JSON list of ? bindings")
    ns = ap.parse_args(argv)

    spark = get_spark("tytodb_spark_repl")
    warehouse = ns.warehouse or tempfile.mkdtemp(prefix="tyto_warehouse_")
    external = None
    if ns.sf_dir:
        from tytodb_spark.catalog import load_tables

        external = load_tables(spark, ns.sf_dir)
    engine = Engine(spark, warehouse, external_tables=external)

    if ns.command is not None:
        bound = json.loads(ns.args) if ns.args else None
        print(run_command(engine, ns.command, bound))
        return 0

    print(f"tytodb_spark — warehouse: {warehouse}  (\\q to quit)", file=sys.stderr)
    for line in sys.stdin:
        line = line.strip()
        if not line:
            continue
        if line in (r"\q", "exit", "quit"):
            break
        print(run_command(engine, line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
