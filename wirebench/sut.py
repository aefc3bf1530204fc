"""The system under test: one process holding Spark ``local[N]``, the
``Engine`` and ``MySqlServer`` in front of it.

Started by ``run.py``, which drives it over two channels: SQL over the
MySQL port, and JSON-line commands on stdin with replies on the file
descriptor that was stdout when the process started (anything else that
writes to stdout, the JVM included, lands on stderr instead).

Commands:
  {"cmd": "setup", "data": DIR, "tables": {...}, "views": [...], "reps": N}
      load the base tables N times, each into a fresh warehouse, through
      ``FreqTable.create``/``insert``; run the view DDL once on the last
      one and serve it; replies with the load and view times and the port
  {"cmd": "trace", "on": BOOL}   trace the following statements or not
  {"cmd": "stats", "spans": PATH}
      per-statement layer records of the traced statements; spans to PATH
  {"cmd": "quit"}
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from concurrent.futures import ThreadPoolExecutor


def _load(spark, data_dir: str, warehouse: str, tables: dict) -> None:
    """Load every table concurrently, one Spark write job each."""
    from incresql_spark.frequency import FreqTable

    os.makedirs(os.path.join(warehouse, "default"))

    def load(name: str, source: str, where: str | None) -> None:
        df = spark.read.parquet(os.path.join(data_dir, f"{source}.parquet"))
        if where:
            df = df.filter(where)
        table = FreqTable(spark, os.path.join(warehouse, "default", name))
        table.create(df.schema)
        table.insert(df, assume_distinct=True)

    with ThreadPoolExecutor(max_workers=len(tables)) as pool:
        futures = [pool.submit(load, name, source, where)
                   for name, (source, where) in tables.items()]
        for f in futures:
            f.result()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--work", required=True)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    ctl = os.fdopen(os.dup(1), "w", buffering=1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    def reply(obj) -> None:
        ctl.write(json.dumps(obj) + "\n")

    from incresql_spark.engine import Engine
    from incresql_spark.server.mysql import MySqlServer
    from incresql_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("wirebench", cpus=args.cpus)
    reply({"ready": True, "boot_s": time.perf_counter() - t0,
           "cores": spark.sparkContext.defaultParallelism,
           "heap": spark.conf.get("spark.driver.memory")})
    server = tracer = None
    try:
        for line in sys.stdin:
            cmd = json.loads(line)
            if cmd["cmd"] == "setup":
                times, warehouse = [], None
                for i in range(cmd["reps"]):
                    if warehouse is not None:
                        shutil.rmtree(warehouse)
                    warehouse = os.path.join(args.work, f"warehouse-{i}")
                    t = time.perf_counter()
                    _load(spark, cmd["data"], warehouse, cmd["tables"])
                    times.append(time.perf_counter() - t)
                t = time.perf_counter()
                engine = Engine(spark, warehouse)
                for ddl in cmd["views"]:
                    engine.execute_statement(ddl)
                views_s = time.perf_counter() - t
                if args.trace:
                    from tracing import Tracer

                    tracer = Tracer(spark, warehouse)
                    tracer.install()
                server = MySqlServer(engine, port=0)
                reply({"load_s": times, "views_s": views_s,
                       "port": server.serve_background(),
                       "warehouse": warehouse})
            elif cmd["cmd"] == "trace":
                tracer.idle.wait(170)
                tracer.enabled = bool(cmd["on"])
                reply({"ok": True})
            elif cmd["cmd"] == "stats":
                tracer.idle.wait(170)
                tracer.enabled = False
                tracer.dump(cmd["spans"])
                reply({"records": tracer.records})
            elif cmd["cmd"] == "quit":
                break
    finally:
        if server is not None:
            server.shutdown()
        spark.stop()
        reply({"stopped": True})
    return 0


if __name__ == "__main__":
    sys.exit(main())
