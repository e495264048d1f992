#!/usr/bin/env python3
"""Connector benchmark: the graft library against a real PostgreSQL 15.

Usage (from the repository root):
    python3 connbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: bulk_scan, attached_analytics, write_dml, llm_ops (see README.md).
The first run builds the library and the benchmark's JVM driver with sbt
into .bench_build/ (or $CARGO_TARGET_DIR); later runs reuse the build while
the sources are unchanged. Every run starts its own throwaway server
(pgserver.py), generates its inputs (datagen.py), runs the workload's fixed
seeded operation sequence in one JVM on local[N] (N = nproc), checks every
result outside the timed window, and prints the metrics. The last line of
stdout is one JSON object: correct, attempted, failed, metrics. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the per-layer
ones of a separate traced run.
"""
import argparse
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import oracle  # noqa: E402
import pgserver  # noqa: E402

DEADLINE_S = 170  # a run (build excluded) must end within 180 s; leave room to clean up

# Operations per timed phase = seconds * OPS_PER_S, rounded up to whole
# rounds. The rates are this workload's nominal speed on a 4-core box;
# they only size the fixed sequence, they are not measurements.
OPS_PER_S = {"bulk_scan": 1.8, "attached_analytics": 2.0, "write_dml": 3.6, "llm_ops": 0.7}

# The 22 TPC-H-shaped catalog queries: c16 is Q1, the TpchCatalog
# templates are Q2..Q22.
TPCH_QUERIES = ["c16_pg_tpch_q1"] + ["c%d_tpch_q%02d" % (16 + q, q) for q in range(2, 23)]
LLM_ENTRIES = ["p22_cross_dedup", "st06_pg_stream_dedup", "s09_ann_ivfadc", "p08_lsh_pairs",
               "p26_ngram_dup_rate", "p38_bpe_tokenize", "p29_semantic_dedup"]

# Inputs per workload: (tables, scale factor). bulk_scan's lineitem is
# larger than the server's 128 MB shared_buffers; the others fit.
INPUTS = {
    "bulk_scan": (["lineitem"], 0.25),
    "attached_analytics": (datagen.TABLES, 0.1),
    "write_dml": (["orders", "lineitem"], 0.1),
    "llm_ops": (["documents", "embeddings"], 0.02),
}

JVM_FLAGS = [
    "-Xmx3g", "-XX:ReservedCodeCacheSize=1g",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [a for p in [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"] for a in ("--add-opens", p + "=ALL-UNNAMED")]


def log(msg):
    print("[connbench] " + msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build --

def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, d) if not os.path.isabs(d) else d


def source_stamp():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    files = [f for f in tops if os.path.isfile(f)]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for dirpath, _, names in os.walk(base):
            files += [os.path.join(dirpath, n) for n in names]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def ensure_built():
    """Return the JVM classpath, building with sbt when the sources changed."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("connbench: the library sources (build.sbt, src/main/scala) are not "
                         "next to connbench/; run from a checkout of the repository")
    bdir = build_dir()
    os.makedirs(bdir, exist_ok=True)
    cp_file = os.path.join(bdir, "classpath.txt")
    stamp_file = os.path.join(bdir, "classpath.stamp")
    stamp = source_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building the library and the benchmark driver with sbt (first run)")
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    opts = env.get("SBT_OPTS", "").split()
    repos = os.path.expanduser("~/.sbt/repositories")
    if not any(o.startswith("-Dsbt.offline") for o in opts):
        opts += ["-Dsbt.offline=true"] + (
            ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
            if os.path.isfile(repos) else [])
    if not any(o.startswith("-Xmx") for o in opts):
        opts.append("-Xmx3g")
    env["SBT_OPTS"] = " ".join(opts)
    with open(os.path.join(bdir, "sbt.log"), "w") as logf:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                           stdout=subprocess.PIPE, stderr=logf, text=True, timeout=840)
        logf.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-3000:])
        raise SystemExit("connbench: sbt build failed (log in %s)" % os.path.join(bdir, "sbt.log"))
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


# ----------------------------------------------------------- operations --

def rounds_for(workload, seconds, per_round):
    return max(1, math.ceil(seconds * OPS_PER_S[workload] / per_round))


def make_ops(workload, seed, seconds):
    """The fixed operation sequence (warm-up, timed) chosen by the seed.
    The mix of operation kinds is fixed; the seed picks their order,
    filter constants and row sets."""
    rnd = random.Random(seed)
    if workload == "bulk_scan":
        pairs = [["l_orderkey", "l_extendedprice"], ["l_partkey", "l_quantity"],
                 ["l_suppkey", "l_shipdate"], ["l_orderkey", "l_returnflag"]]

        def block(i):
            # every run scans the same column pairs; the seed picks the
            # order and the filter's one-year window and quantity bound
            y, m, q = rnd.randint(1995, 2000), rnd.randint(1, 12), rnd.randint(10, 40)
            ops = [{"name": "scan_full"},
                   {"name": "scan_2col", "cols": pairs[i % len(pairs)]},
                   {"name": "scan_count", "count": True,
                    "filter": "l_shipdate >= TIMESTAMP '%d-%02d-01 00:00:00' AND "
                              "l_shipdate < TIMESTAMP '%d-%02d-01 00:00:00' AND l_quantity < %d"
                              % (y, m, y + 1, m, q)}]
            rnd.shuffle(ops)
            return ops
        warm = block(0) + block(1)
        timed = sum((block(i) for i in range(rounds_for(workload, seconds, 3))), [])
    elif workload == "attached_analytics":
        def block():
            q = list(TPCH_QUERIES)
            rnd.shuffle(q)
            return [{"name": n} for n in q]
        warm = block()
        timed = sum((block() for _ in range(rounds_for(workload, seconds, len(TPCH_QUERIES)))), [])
    elif workload == "write_dml":
        def block():
            # lineitem slices are 1/12 (50k rows), orders slices 1/6 (25k)
            lmod, omod = 12, 6
            a, b, c = rnd.sample(range(omod), 3)
            middle = [
                {"name": "append_lineitem", "kind": "write", "mode": "append", "mod": lmod,
                 "rem": rnd.randrange(lmod)},
                {"name": "text_append_lineitem", "kind": "write", "mode": "append", "text": True,
                 "mod": 4 * lmod, "rem": rnd.randrange(4 * lmod)},
                {"name": "update_lineitem", "kind": "update", "mod": 50, "rem": rnd.randrange(50)},
                {"name": "delete_lineitem", "kind": "delete", "mod": 50, "rem": rnd.randrange(50)},
                {"name": "pushed_delete_lineitem", "kind": "pushed_delete",
                 "from": rnd.randrange(0, 140000), "width": 5000},
                {"name": "append_orders", "kind": "write", "table": "orders", "mode": "append",
                 "mod": omod, "rem": b},
                {"name": "merge_orders", "kind": "merge", "table": "orders", "mod": omod, "rem": c},
            ]
            rnd.shuffle(middle)
            # each round starts from a known state: both overwrites first
            return [{"name": "overwrite_lineitem", "kind": "write", "mode": "overwrite",
                     "mod": lmod, "rem": rnd.randrange(lmod)},
                    {"name": "overwrite_orders", "kind": "write", "table": "orders",
                     "mode": "overwrite", "mod": omod, "rem": a}] + middle
        warm = block() + block() + block()
        timed = sum((block() for _ in range(rounds_for(workload, seconds, 9))), [])
        for op in warm + timed:
            op["check"] = True
    elif workload == "llm_ops":
        def block():
            e = list(LLM_ENTRIES)
            rnd.shuffle(e)
            return [{"name": n} for n in e]
        warm = block()
        timed = sum((block() for _ in range(rounds_for(workload, seconds, len(LLM_ENTRIES)))), [])
    else:
        raise SystemExit("connbench: unknown workload %r" % workload)
    for i, op in enumerate(warm):
        op["id"] = -1000 - i
    for i, op in enumerate(timed):
        op["id"] = i
    return warm, timed


# ------------------------------------------------------------------ run --

class Jvm:
    """The benchmark's JVM driver and its line protocol."""

    def __init__(self, cp, cpus, work, log_path):
        self.log = open(log_path, "w")
        self.proc = subprocess.Popen(
            ["java"] + JVM_FLAGS + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
                                    "-cp", cp, "connbench.Main", str(cpus), work],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.log, text=True,
            bufsize=1)

    def next_event(self):
        while True:
            line = self.proc.stdout.readline()
            if not line:
                raise RuntimeError("the JVM driver exited early (exit %s)" % self.proc.wait())
            if line.startswith("@@"):
                return (line[2:].strip().split(" ", 1) + [""])[:2]

    def reply(self, text):
        self.proc.stdin.write(text + "\n")
        self.proc.stdin.flush()

    def stop(self):
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()
        self.log.close()


class BackendSampler(threading.Thread):
    """Peak number of client backends of the server (traced runs)."""

    def __init__(self, server):
        super().__init__(daemon=True)
        self.server, self.peak, self.halt = server, 0, threading.Event()

    def run(self):
        while not self.halt.is_set():
            self.peak = max(self.peak, self.server.client_backends())
            self.halt.wait(0.05)


def run(args):
    cp = ensure_built()
    t0 = time.time()  # set-up is timed from here: the build is not set-up
    cpus = os.cpu_count() or 1
    bdir = build_dir()
    work = os.path.join(bdir, "run-%d" % os.getpid())
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    jvm, server = None, None
    try:
        # the JVM boots Spark while the server starts and the inputs load
        jvm = Jvm(cp, cpus, work, os.path.join(bdir, "jvm-%s.log" % args.workload))
        tables, sf = INPUTS[args.workload]
        data = os.path.join(work, "data")
        needs_server = args.workload != "llm_ops"
        # attached_analytics's traced run also holds the operator layer's
        # pass: the llm_ops entries, measured per layer (see README.md)
        operator_pass = bool(args.trace) and args.workload == "attached_analytics"

        def generate():
            datagen.generate(data, sf, tables, csv=needs_server)
            if operator_pass:
                datagen.generate(data, INPUTS["llm_ops"][1], INPUTS["llm_ops"][0], csv=False)
        # the inputs are generated while the server starts
        gen = threading.Thread(target=generate)
        gen.start()
        try:
            if needs_server:
                server = pgserver.PgServer(os.path.join(work, "pg"),
                                           preload_stat_statements=bool(args.trace))
                server.start()
        finally:
            gen.join()
        log("phase server started, data generated %.2f" % (time.time() - t0))
        if args.workload == "attached_analytics" or args.workload == "bulk_scan":
            datagen.load(server, data, tables)
        elif args.workload == "write_dml":
            for t in ("lineitem", "orders"):
                server.psql("CREATE TABLE w_%s (%s)" % (t, datagen.PG_DDL[t]))
            server.psql("VACUUM ANALYZE")
        log("phase data loaded %.2f" % (time.time() - t0))
        warm, timed = make_ops(args.workload, args.seed, args.seconds)
        plan = {
            "workload": args.workload, "trace": bool(args.trace),
            "dsn": server.dsn if server else None,
            "postmaster_pid": server.postmaster_pid if server else None,
            "data_dir": data, "warmup": warm, "ops": timed,
            "result_path": os.path.join(work, "result.json"),
            "trace_path": os.path.join(bdir, "trace-%s-seed%d.json" % (args.workload, args.seed)),
        }
        if operator_pass:
            plan["operator_warmup"], plan["operator_ops"] = make_ops("llm_ops", args.seed,
                                                                     args.seconds)
        with open(os.path.join(work, "plan.json"), "w") as f:
            json.dump(plan, f)
        checks, marks, sampler, timed_at = {}, {}, None, None
        # a hung operation must not outlive the run's deadline
        watchdog = threading.Timer(max(1.0, DEADLINE_S - (time.time() - t0)), jvm.proc.kill)
        watchdog.daemon = True
        watchdog.start()
        kind, _ = jvm.next_event()
        if kind != "session":
            raise RuntimeError("unexpected driver event %r" % kind)
        log("phase session ready %.2f" % (time.time() - t0))
        jvm.reply(os.path.join(work, "plan.json"))
        while True:
            kind, rest = jvm.next_event()
            if kind == "timed":
                timed_at = int(rest) / 1000.0
            elif kind == "check":
                checks[int(rest)] = oracle.server_state(server)
                jvm.reply("ok")
            elif kind == "mark":
                marks[rest] = oracle.server_counters(server)
                if rest == "timed_start":
                    sampler = BackendSampler(server)
                    sampler.start()
                elif sampler:
                    sampler.halt.set()
                    sampler.join()
                jvm.reply("ok")
            elif kind == "done":
                break
        if jvm.proc.wait() != 0:
            raise RuntimeError("the JVM driver exited with %s" % jvm.proc.returncode)
        watchdog.cancel()
        with open(plan["result_path"]) as f:
            result = json.load(f)
        setup_s = timed_at - t0
        log("phase timed done %.2f" % (time.time() - t0))
        verdicts = oracle.verify(args.workload, data,
                                 # a traced run's untraced pass ran before the checked one
                                 warm + (timed if args.trace else []), timed, result, checks,
                                 os.path.join(bdir, "oracle-cache"))
        if operator_pass:
            verdicts["operators"] = oracle.verify(
                "llm_ops", data, [], plan["operator_ops"],
                {"ops": result["operator_ops"], "oracle_sql": result["operator_oracle_sql"]},
                {}, os.path.join(bdir, "oracle-cache"))
        log("phase verified %.2f" % (time.time() - t0))
        return summarize(args, result, verdicts, setup_s,
                         marks, sampler.peak if sampler else None)
    finally:
        if jvm:
            jvm.stop()
        if server:
            server.stop()
        shutil.rmtree(work, ignore_errors=True)


def percentile(values, p):
    """Nearest-rank percentile; values may contain inf."""
    s = sorted(values)
    return s[max(0, math.ceil(p * len(s)) - 1)]


def median(values):
    """The median; values may contain inf."""
    s = sorted(values)
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def summarize(args, result, verdicts, setup_s, marks, peak_backends):
    ops = result["ops"]
    n = len(ops)
    bad = [o for o, ok in zip(ops, verdicts["ok"]) if not ok]
    failed = sum(1 for o in ops if "error" in o)
    wrong = len(bad) - failed
    # a failed or wrong operation misses every latency limit
    lat = [o["latency_s"] if ok else math.inf for o, ok in zip(ops, verdicts["ok"])]
    tail_p = max(0.5, math.floor(100 * (1 - 10 / n)) / 100)  # p50 when n < 20
    timed_s = sum(o["latency_s"] for o in ops)
    rows = sum(r for r, ok in zip(verdicts["rows"], verdicts["ok"]) if ok)
    e2e = {
        "setup_s": (setup_s, "s"),
        "rows_per_s": (rows / timed_s, "rows/s"),
        "op_p50_s": (median(lat), "s"),
        "op_tail_s": (percentile(lat, tail_p), "s"),
        "error_rate": ((failed + wrong) / n, "fraction"),
        "pg_cpu_s": (sum(o["pg_cpu_s"] for o in ops), "s"),
        "spark_cpu_s": (sum(o["jvm_cpu_s"] for o in ops), "s"),
        "peak_rss_mb": (result["jvm_peak_rss_mb"], "MB"),
    }
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        declared = json.load(f)
    for name, (value, unit) in e2e.items():
        log("%-12s %-14s %s" % (args.workload, name, "%.6g %s" % (value, unit)))
    log("%-12s op_tail_s is p%d over %d operations" % (args.workload, round(tail_p * 100), n))
    by_name = {}
    for o in ops:
        by_name.setdefault(o["name"], []).append(o["latency_s"])
    log("%-12s sorted latencies: %s" % (args.workload, " ".join("%.3f" % x for x in sorted(lat))))
    log("%-12s median latency by operation: %s" % (args.workload, ", ".join(
        "%s %.3f" % (k, statistics.median(v)) for k, v in sorted(by_name.items()))))
    for o, ok in zip(ops, verdicts["ok"]):
        if not ok:
            log("  op %d %s %s" % (o["id"], o["name"], o.get("error") or verdicts["why"].get(o["id"], "wrong result")))
    n_timed = n
    if "operators" in verdicts:
        # the operator pass's checks count like the workload's own
        v = verdicts["operators"]
        for o, ok in zip(result["operator_ops"], v["ok"]):
            n += 1
            if "error" in o:
                failed += 1
            elif not ok:
                wrong += 1
            if not ok:
                log("  operator op %d %s %s" % (o["id"], o["name"], o.get("error") or v["why"].get(o["id"])))
    if args.trace:
        layer = dict(result.get("per_layer", {}))
        layer.update(oracle.server_layer_metrics(marks, n_timed, rows,
                                                 layer.get("codec.bytes_per_row", 0.0)))
        layer["meta.peak_backends"] = float(peak_backends or 0)
        layer["trace.overhead_pct"] = 100.0 * layer.get("trace.overhead_s", 0.0) / max(
            median([o["latency_s"] for o in ops]), 1e-9)
        for k in sorted(layer):
            log("%-12s %-36s %.6g" % (args.workload, k, layer[k]))
        metrics = {m["name"]: {"value": layer.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in declared["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                   for m in declared["end_to_end"]}
        if not all(math.isfinite(m["value"]) for m in metrics.values()):
            raise RuntimeError("more than half of the operations failed; no finite median")
    return {"correct": wrong == 0, "attempted": n, "failed": failed + wrong, "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(INPUTS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        out = run(args)
    except pgserver.ServerUnavailable as e:
        log("skipped: %s" % e)
        sys.exit(77)
    except (RuntimeError, subprocess.CalledProcessError) as e:
        log("run failed: %s" % e)
        sys.exit(1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
