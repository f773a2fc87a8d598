"""End-to-end backfill benchmark: one workload, one seed, one JSON result.

Usage, from the repository root:

    python3 perfbench/run.py --workload intent_decrypt --seed 1 --seconds 20 --trace 0

The run sets up a Spark session, a throwaway PostgreSQL server and (for
the Kafka workload) the broker double in its own process; it loads the
seed's rows, warms up, then repeats the job until ``--seconds`` have
passed. See perfbench/README.md. Every job's output is checked against
the generator's expectations. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` times the job as cumulative prefixes and prints
the per-layer metrics. The last stdout line is the result object; the
line before it carries the run's facts (host, versions, sizes), which
are also written with the spans to ``.bench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

import procstat
from workloads import WORKLOADS, check_sink

ROOT = Path(__file__).resolve().parent.parent
HEAP = "1g"  # pinned driver heap; the session default is larger than the host
MAX_SLOTS = 2
# Rows per workload: the main table and the warm-up table.
ROWS = {
    "intent_decrypt": (20_000, 5_000),
    "refund_merchant_dryrun": (400_000, 20_000),
}
SETUP_REPEATS = 3  # the data set-up is repeated; setup_s uses its median


class Tracer:
    """Spans (name, start, end, parent) kept in memory, written at the end."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str):
        tracer = self

        class _Span:
            def __enter__(self):
                self.idx = len(tracer.spans)
                tracer.spans.append({"name": name, "start": time.perf_counter(), "end": None,
                                     "parent": tracer._stack[-1] if tracer._stack else None})
                tracer._stack.append(self.idx)
                return self

            def __exit__(self, *exc):
                tracer._stack.pop()
                tracer.spans[self.idx]["end"] = time.perf_counter()

            @property
            def seconds(self) -> float:
                s = tracer.spans[self.idx]
                return s["end"] - s["start"]

        return _Span()


def _preflight() -> str | None:
    """Why the benchmark cannot run here, or None."""
    sys.path.insert(0, str(ROOT))
    try:
        import hyperswitch_data_backfill_spark  # noqa: F401
    except ImportError as exc:
        return f"cannot import hyperswitch_data_backfill_spark from {ROOT}: {exc}"
    for tool in ("initdb", "pg_ctl", "java"):
        if shutil.which(tool) is None:
            return f"{tool} is not on PATH"
    return None


def _scratch_dirs() -> tuple[Path, Path]:
    """Temporary directories inside the checkout: one for Spark and this
    process, one for the PostgreSQL data directory. PostgreSQL runs as
    ``postgres`` when we are root; if that user cannot reach the checkout
    (a parent directory closed to others), its data goes to the system
    temporary directory instead."""
    tmp = ROOT / ".bench_tmp"
    pg_tmp = tmp / "pg"
    pg_tmp.mkdir(parents=True, exist_ok=True)
    if os.geteuid() == 0:
        shutil.chown(pg_tmp, user="postgres", group="postgres")
        ok = subprocess.run(["runuser", "-u", "postgres", "--", "test", "-w", str(pg_tmp)],
                            capture_output=True).returncode == 0
        if not ok:
            pg_tmp.rmdir()
            pg_tmp = Path(tempfile.gettempdir())
    return tmp, pg_tmp


def run(args) -> tuple[dict, dict]:
    wl = WORKLOADS[args.workload]()
    wl.scan_slices = min(MAX_SLOTS, os.cpu_count() or 1)
    rows, warm_rows = ROWS[wl.name]
    if args.rows:
        rows, warm_rows = args.rows, max(200, args.rows // 10)
    slots = min(MAX_SLOTS, os.cpu_count() or 1)
    tmp, pg_tmp = _scratch_dirs()
    os.environ.update({
        "SPARK_GRAFT_DRIVER_MEM": HEAP, "SPARK_GRAFT_CPUS": str(slots),
        "SPARK_GRAFT_SHUFFLE": str(slots), "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": str(tmp), "SPARK_LOCAL_DIRS": str(tmp),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
    })
    tempfile.tempdir = str(pg_tmp)  # PgServer makes its directories here
    info = {"workload": wl.name, "seed": args.seed, "trace": args.trace,
            "nproc": os.cpu_count(), "slots": slots, "heap": HEAP,
            "rows": rows, "warm_rows": warm_rows, "loadavg_start": procstat.loadavg(),
            "steal_s": -procstat.steal_s(), "host_loop_s_start": procstat.host_loop_s(),
            "python": sys.version.split()[0]}
    tracer = Tracer()
    m: dict[str, float] = {}
    errors: list[str] = []
    t_setup = time.perf_counter()
    spark = pg = broker = gw = None
    pids: list[int] = []
    try:
        from hyperswitch_data_backfill_spark.session import get_spark
        from hyperswitch_data_backfill_spark.sources.pgwire import PgServer
        from pyspark import SparkContext

        with tracer.span("session.start") as sp:
            spark = get_spark(app_name="perfbench")
        m["session.start_s"] = sp.seconds
        gw = SparkContext._gateway.proc
        spark.sparkContext.setLogLevel("ERROR")
        info["spark"] = spark.version

        with tracer.span("generate"):
            load_main, expected = wl.prepare(wl.table, rows, args.seed)
            load_warm, warm = wl.prepare(f"{wl.table}_warm", warm_rows, args.seed + 1)
        # The server start and load are repeated, each round on a fresh
        # server; setup_s counts their median. The last server is used.
        server_s, load_s = [], []
        for _ in range(SETUP_REPEATS):
            if pg is not None:
                pg.__exit__(None, None, None)
            with tracer.span("pgwire.server_start") as sp:
                pg = PgServer().__enter__()
            server_s.append(sp.seconds)
            with tracer.span("pgwire.load") as sp, pg.connect() as conn:
                load_main(conn)
                load_warm(conn)
                conn.execute("VACUUM (FREEZE, ANALYZE)")
            load_s.append(sp.seconds)
        m["pgwire.server_start_s"] = statistics.median(server_s)
        m["pgwire.load_s"] = statistics.median(load_s)
        m["pgwire.load_rows_per_s"] = (rows + warm_rows) / m["pgwire.load_s"]
        with pg.connect() as conn:
            info["postgres"] = conn.parameters.get("server_version")
            _c, r = conn.query("SELECT pg_backend_pid()")
            postmaster = procstat.ppid(int(r[0][0]))

        port = None
        if wl.kafka:
            from brokerproc import BrokerProcess

            broker = BrokerProcess()

        def job(table: str, exp) -> dict:
            """One full job on ``table``, then the check of its output."""
            nonlocal port
            out: dict = {}
            if broker is not None:
                with tracer.span("broker.restart"):
                    port = broker.restart()
            _name, full_job = wl.prefixes(spark, pg, table, port)[-1]
            with tracer.span("job.run") as sp:
                res = full_job()
            out["job_s"] = sp.seconds
            with tracer.span("sink.check"):
                out["attempted"] = exp.rows
                if broker is None:
                    out["failed"] = wl.check_dry_run(table, exp, res)
                    return out
                d = broker.digest(wl.topic, wl.needle)
                chk = check_sink(exp, d["digests"])
            out.update(failed=chk["failed"], duplicates=chk["duplicates"], broker=d)
            return out

        # The first job in a fresh JVM is several times slower; it runs on a
        # small table. The job after it is still slower than the rest; it
        # runs untimed on the main table. Spark compiles code per plan, so
        # a traced run first runs each prefix plan on the small table.
        with tracer.span("warmup"):
            for table, exp in ((f"{wl.table}_warm", warm), (wl.table, expected)):
                w = job(table, exp)
                if w["failed"]:
                    errors.append(f"warm-up job on {table} failed on {w['failed']} rows")
                if args.trace and exp is warm:
                    for _name, action in wl.prefixes(spark, pg, table, port)[:-1]:
                        action()
                    if wl.readback:
                        wl.fetch(spark, port)[1].collect()
        from hyperswitch_data_backfill_spark.functions.crypto import HAVE_AES

        # the warm-up decrypted the generator's XOR-cipher ciphertext
        info["cipher"] = ("not run" if not wl.decrypt
                          else "xor-sha256-ctr" if not errors else "unknown")
        info["aes_available"] = HAVE_AES
        setup_s = (time.perf_counter() - t_setup - sum(server_s) - sum(load_s)
                   + m["pgwire.server_start_s"] + m["pgwire.load_s"])

        runs: list[dict] = []
        t_measure = time.perf_counter()
        while True:
            t_iter = time.perf_counter()
            if args.trace:
                runs.append(_traced_round(wl, spark, pg, broker, postmaster, gw, tracer,
                                          job, expected))
            else:
                with tracer.span("job"):
                    runs.append(job(wl.table, expected))
            elapsed = time.perf_counter() - t_measure
            if elapsed + (time.perf_counter() - t_iter) > args.seconds:
                break

        pids = _tree_pids(postmaster)
        hwm = {p: procstat.vm_hwm_mb(p) for p in pids}
        rss = sum(hwm.values())
        info["vm_hwm_mb"] = {f"{p} {procstat.cmdline(p)[:60]}": round(v, 1)
                             for p, v in hwm.items()}
        info["loadavg_end"] = procstat.loadavg()
        info["steal_s"] += procstat.steal_s()
        info["host_loop_s_end"] = procstat.host_loop_s()
        info["iterations"] = len(runs)
        failed = sum(r["failed"] for r in runs)
        attempted = sum(r["attempted"] for r in runs)
        job_s = statistics.median(r["job_s"] for r in runs)
        if args.trace:
            metrics = _layer_metrics(wl, m, runs, expected, failed, attempted)
            metrics.update(_codec_probe(wl, expected))
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "job_s": (job_s, "s"),
                "rows_per_s": (expected.rows / job_s, "1/s"),
                "peak_rss_mb": (rss, "MB"),
            }
            info["job_s_all"] = [r["job_s"] for r in runs]
        info["errors"] = errors
        info["spans"] = tracer.spans
        result = {
            "correct": failed == 0 and not errors,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        return result, info
    finally:
        if broker is not None:
            broker.close()
        if pg is not None:
            pg.__exit__(None, None, None)
        if spark is not None:
            pids = pids or _tree_pids(None)
            spark.stop()
            gw.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                gw.wait(timeout=60)
            except subprocess.TimeoutExpired:
                gw.kill()
                gw.wait(timeout=30)
            left = procstat.wait_gone([p for p in pids if p != os.getpid()])
            if left:
                print(f"perfbench: killing processes still running: {left}", file=sys.stderr)
                for p in left:
                    try:
                        os.kill(p, signal.SIGKILL)
                    except OSError:
                        pass
                procstat.wait_gone(left)
        shutil.rmtree(ROOT / ".bench_tmp", ignore_errors=True)


def _tree_pids(postmaster: int | None) -> list[int]:
    """This process, the JVM and its Python workers, the broker process and
    the PostgreSQL server with its live backends."""
    kids = procstat.children()
    pids = procstat.descendants(os.getpid(), kids)
    if postmaster:
        pids += procstat.descendants(postmaster, kids)
    return sorted(set(pids))


def _cpu(gw, broker, postmaster) -> dict[str, float]:
    kids = procstat.children()
    jvm = gw.pid
    return {
        "jvm": procstat.own_cpu_s(jvm),
        "pyworker": sum(procstat.tree_cpu_s(c, kids) for c in kids.get(jvm, ())),
        "pg": procstat.tree_cpu_s(postmaster, kids),
        "broker": procstat.tree_cpu_s(broker.pid, kids) if broker else 0.0,
    }


def _traced_round(wl, spark, pg, broker, postmaster, gw, tracer, job, expected) -> dict:
    """The cumulative prefixes with spans, /proc CPU readings around the
    full job, the readback, then the same job untraced."""
    from pyspark.sql import functions as F

    out: dict = {}
    port = broker.restart() if broker else None
    steps = wl.prefixes(spark, pg, wl.table, port)
    with tracer.span("job.traced"):
        for name, action in steps[:-1]:
            with tracer.span(f"prefix.{name}") as sp:
                action()
            out[name] = sp.seconds
        full, action = steps[-1]
        cpu0 = _cpu(gw, broker, postmaster)
        with tracer.span(f"prefix.{full}") as sp:
            res = action()
        out[full] = sp.seconds
        cpu1 = _cpu(gw, broker, postmaster)
        failed, checks = 0, 1
        if broker is None:
            failed += wl.check_dry_run(wl.table, expected, res)
        else:
            d = broker.digest(wl.topic, wl.needle)
            out["broker"] = d
            failed += check_sink(expected, d["digests"])["failed"]
            if wl.readback:
                df, digests = wl.fetch(spark, port)
                with tracer.span("prefix.readback") as sp:
                    got = digests.collect()
                out["readback"] = sp.seconds
                failed += check_sink(
                    expected, b"".join(bytes(r["k"]) + bytes(r["v"]) for r in got))["failed"]
                checks += 1
                out["fetch_tasks"] = df.rdd.getNumPartitions()
        cpu2 = _cpu(gw, broker, postmaster)
    out["cpu"] = {k: cpu1[k] - cpu0[k] for k in cpu0}
    out["cpu"]["broker"] = cpu2["broker"] - cpu0["broker"]  # produce and readback
    # the same job untraced, for the tracing overhead
    untraced = job(wl.table, expected)
    out["untraced_s"] = untraced["job_s"]
    out["failed"] = failed + untraced["failed"]
    out["attempted"] = (checks + 1) * expected.rows
    out["duplicates"] = untraced.get("duplicates", 0)
    out["job_s"] = out[full]
    # untimed: rows per scan slice, as the source produced them
    per_slice = [r[1] for r in wl.scan(spark, pg, wl.table)
                 .groupBy(F.spark_partition_id()).count().collect()]
    out["slice_skew"] = max(per_slice) / (sum(per_slice) / len(per_slice))
    if wl.decrypt:
        from hyperswitch_data_backfill_spark.functions.crypto import derive_keys_df
        from hyperswitch_data_backfill_spark.sources.pgwire import read_pgwire

        store = read_pgwire(spark, pg.host, pg.port, wl.keys_table(wl.table),
                            user=pg.user, database=pg.database)
        out["keys"] = derive_keys_df(store, "merchant_id").count()
    return out


def _layer_metrics(wl, m, runs, expected, failed, attempted) -> dict:
    med = lambda key: statistics.median(r[key] for r in runs)  # noqa: E731
    rows = expected.rows
    scan = med("scan")
    dec = med("decrypt") if wl.decrypt else scan
    event = med("event") if "event" in runs[0] else dec
    full = med("job_s")
    cpu = {k: statistics.median(r["cpu"][k] for r in runs) for k in runs[0]["cpu"]}
    brk = runs[-1].get("broker", {})
    readback = med("readback") if wl.readback else 0.0
    s = "s"
    return {
        "session.start_s": (m["session.start_s"], s),
        "session.jvm_cpu_s": (cpu["jvm"], s),
        "session.pyworker_cpu_s": (cpu["pyworker"], s),
        "pgwire.server_start_s": (m["pgwire.server_start_s"], s),
        "pgwire.load_s": (m["pgwire.load_s"], s),
        "pgwire.load_rows_per_s": (m["pgwire.load_rows_per_s"], "1/s"),
        "pgwire.scan_s": (scan, s),
        "pgwire.scan_rows_per_s": (rows / scan, "1/s"),
        "pgwire.server_cpu_s": (cpu["pg"], s),
        "pgwire.slice_rows_max_over_mean": (runs[-1]["slice_skew"], "count"),
        "crypto.decrypt_s": (dec - scan, s),
        "crypto.decrypt_failures": (brk.get("missing_needle", 0) if wl.decrypt else 0, "count"),
        "crypto.keys": (runs[-1].get("keys", 0), "count"),
        "kafka.event_s": (event - dec if "event" in runs[0] else 0.0, s),
        "kafka.value_bytes": (brk.get("value_bytes", 0), "count"),
        "kafka_wire_v2.produce_s": (full - event if "produce" in runs[0] else 0.0, s),
        "kafka_wire.broker_cpu_s": (cpu["broker"], s),
        "kafka_wire.records": (brk.get("records", 0), "count"),
        "kafka_wire.duplicates": (max(r["duplicates"] for r in runs), "count"),
        "kafka_wire.connections": (brk.get("connections", 0), "count"),
        "kafka_wire.errors": (brk.get("errors", 0), "count"),
        "kafka_fetch.readback_s": (readback, s),
        "kafka_fetch.rows_per_s": (rows / readback if readback else 0.0, "1/s"),
        "kafka_fetch.tasks": (runs[-1].get("fetch_tasks", 0), "count"),
        "spec.count_s": (full - scan if "spec" in runs[0] else 0.0, s),
        "error_ratio": (failed / attempted, "ratio"),
        "trace.overhead_ratio": (full / med("untraced_s") - 1.0, "ratio"),
    }


def _codec_probe(wl, expected) -> dict:
    """Single-threaded codec calls on the workload's own first 10k records."""
    from hyperswitch_data_backfill_spark.sinks.kafka_wire_v2 import (
        crc32c,
        encode_record_batch_v2,
        parse_record_batch_v2,
    )

    sample = expected.sample
    raw = b"".join(v for _k, v in sample)
    t0 = time.perf_counter()
    crc32c(raw)
    crc_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    batch = encode_record_batch_v2(sample, compression=wl.compression)
    enc_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    back = parse_record_batch_v2(batch)
    parse_s = time.perf_counter() - t0
    if back != sample:
        raise RuntimeError("record batch round trip changed the sample")
    plain = len(encode_record_batch_v2(sample)) if wl.compression != "none" else len(batch)
    return {
        "kafka_wire_v2.crc32c_mb_per_s": (len(raw) / 1e6 / crc_s, "MB/s"),
        "kafka_wire_v2.encode_batch_s": (enc_s, "s"),
        "kafka_wire_v2.parse_batch_s": (parse_s, "s"),
        "kafka_wire_v2.compress_ratio": (plain / len(batch), "count"),
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(ROWS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--rows", type=int, default=0,
                   help="override the workload's row count (smoke tests)")
    args = p.parse_args(argv)
    # run the clean-up in ``finally`` when stopped with SIGTERM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    why = _preflight()
    if why:
        print(f"perfbench: {why}", file=sys.stderr)
        return 2
    result, info = run(args)
    out = ROOT / ".bench_out"
    out.mkdir(exist_ok=True)
    (out / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps({"result": result, "info": info}, indent=1))
    info.pop("spans", None)
    print(json.dumps({"info": info}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
