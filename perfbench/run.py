#!/usr/bin/env python3
"""graft benchmark: one command, four workloads, end-to-end and per-layer
metrics, correctness checked in the same run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see perfbench/README.md): analytics, pipeline_probe,
index_ingest, social_oltp. The run builds the program from source
(perfbench/build.py), generates its inputs from the seed
(perfbench/gen.py), runs one JVM with one closed-loop client on
local[n] (n = min(4, nproc)), checks every result, and prints two lines:
a full report with every metric that applies to the workload, then, as
the last line, the result object

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

whose metrics are the `end_to_end` list of BENCHMARK.json (--trace 0) or
its `per_layer` list (--trace 1). Everything the run writes lives under
`.bench_work/` in the repo root and is deleted at exit.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import verify  # noqa: E402

WORKLOADS = ("analytics", "pipeline_probe", "index_ingest", "social_oltp")
UNITS = {"setup_s": "s", "ops_per_s": "1/s", "read_p50_s": "s", "read_p90_s": "s",
         "write_p50_s": "s", "write_p90_s": "s", "rows_per_s": "1/s",
         "failed_frac": "ratio", "space_amp": "ratio", "cpu_s_per_op": "s",
         "live_heap_mb": "MB"}
# scale of the generated tables the query workloads read: small enough
# that set-up (cold publishes, warm-up pass) fits a run
TABLES_SF = 0.001
# the JVM's share of the 180 s a run may take (build, generation and the
# oracle check take the rest)
JVM_TIMEOUT_S = 150
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def load_config():
    with open(os.path.join(HERE, "workloads.json")) as fh:
        return json.load(fh)


def percentile(xs, q):
    """Percentile of a non-empty list, interpolated linearly between the
    two closest ranks. A workload's reads come in a few kinds of unlike
    cost, and few samples per run: a nearest-rank percentile would jump
    from one kind to the other between runs, an interpolated one moves
    smoothly."""
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def run_jvm(classes, work, args, cfg, timeout):
    cpus = str(min(4, os.cpu_count() or 1))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    props = [f"-Djava.io.tmpdir={tmp}",
             f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Dperfbench.queries={','.join(cfg.get('queries', []))}"]
    cp = classes + os.pathsep + os.path.join(build.SPARK_JARS, "*")
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData"] +
           opens + props +
           ["-cp", cp, "perfbench.Main", args.workload, str(args.seed),
            str(args.seconds), str(args.trace), work, str(cfg["passes"])])
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    log = open(os.path.join(work, "jvm.log"), "w")
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                         cwd=work, start_new_session=True)

    def stop(*_):
        # the JVM runs in its own session: take its whole group down
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        raise SystemExit("interrupted")

    old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP)}
    try:
        rc = p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        rc = -9
    finally:
        for s, h in old.items():
            signal.signal(s, h)
        log.close()
    return rc


def metrics_from(res, gen_s):
    ops = res["ops"]
    n = len(ops)
    secs = res["measured_s"]
    reads = [o[2] for o in ops if o[1] == "read"]
    writes = [o[2] for o in ops if o[1] == "write"]
    m = {
        "setup_s": gen_s + res["session_s"] + res["setup_s"],
        "ops_per_s": n / secs,
        "cpu_s_per_op": res["cpu_s"] / max(n, 1),
        "live_heap_mb": res["heap_mb"],
        "space_amp": res["disk_bytes"] / max(res["input_bytes"], 1),
    }
    if reads:
        m["read_p50_s"] = percentile(reads, 0.5)
        m["read_p90_s"] = percentile(reads, 0.9)
    if writes:
        m["write_p50_s"] = percentile(writes, 0.5)
        m["write_p90_s"] = percentile(writes, 0.9)
        m["rows_per_s"] = sum(o[4] for o in ops if o[1] == "write") / secs
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", metavar="FILE",
                    help="append the full report line to FILE (input of compare.py)")
    ap.add_argument("--spans", metavar="FILE",
                    help="with --trace 1, copy the run's spans (JSON lines) to FILE")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    cfg = load_config()["workloads"][args.workload]
    classes = build.build()

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.monotonic()
        if args.workload in ("analytics", "pipeline_probe"):
            gen.tpch(os.path.join(work, "data"), args.seed, TABLES_SF)
        elif args.workload == "social_oltp":
            gen.social(os.path.join(work, "social"), args.seed)
        else:
            gen.corpus(os.path.join(work, "corpus"), args.seed)
        gen_s = time.monotonic() - t0

        rc = run_jvm(classes, work, args, cfg, timeout=JVM_TIMEOUT_S)
        result_path = os.path.join(work, "result.json")
        if rc != 0 or not os.path.exists(result_path):
            with open(os.path.join(work, "jvm.log")) as fh:
                sys.stderr.write(fh.read()[-4000:])
            raise SystemExit(f"benchmark JVM failed (exit {rc})")
        with open(result_path) as fh:
            res = json.load(fh)

        attempted = len(res["ops"])
        failed = sum(1 for o in res["ops"] if not o[3])
        checks, check_failures, notes = 0, 0, []
        if args.workload in ("analytics", "pipeline_probe"):
            checks, check_failures, notes = verify.oracle_check(
                os.path.join(work, "data"), os.path.join(work, "outputs"), res["report"],
                os.path.join(work, "duckdb-tmp"))
        if args.workload == "social_oltp":
            checks += 3  # end state of users, posts and engagements
        if args.workload == "analytics":
            # the bypass workload: no query may publish or resolve an artifact
            checks += 1
            touched = [q for q, st in res["report"]["artifact_state"].items() if st != "none"]
            if touched:
                check_failures += 1
                notes.append(f"analytics queries touched artifacts: {touched}")
        if args.workload == "pipeline_probe":
            # every artifact is published in set-up, never in the measured phase
            checks += 1
            if res["measured_publishes"]:
                check_failures += 1
                notes.append(f"{res['measured_publishes']} artifact publishes in the measured phase")
        check_failures += res["end_failures"]
        attempted += checks
        failed += check_failures

        m = metrics_from(res, gen_s)
        m["failed_frac"] = failed / max(attempted, 1)
        layers = {}
        if args.trace:
            layers = dict(res["layers"])
            # a layer this workload never calls did no work: 0 calls, 0 s
            for spec in bench["per_layer"]:
                name = spec["name"]
                if name in layers:
                    continue
                if name.split(".")[0] in cfg["layers"]:
                    raise SystemExit(f"per-layer metric {name} was not measured")
                layers[name] = 0.0
        report = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                  "ops": len(res["ops"]),
                  "samples": {"read": sum(1 for o in res["ops"] if o[1] == "read"),
                              "write": sum(1 for o in res["ops"] if o[1] == "write")},
                  "errors": res["errors"] + notes,
                  "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in m.items()}}
        if args.trace:
            report["layers"] = layers
        line = json.dumps(report)
        print(line)
        if args.spans and args.trace:
            shutil.copyfile(os.path.join(work, "spans.jsonl"), args.spans)
        if args.record:
            with open(args.record, "a") as fh:
                fh.write(line + "\n")

        wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
        values = layers if args.trace else m
        out = {}
        for spec in wanted:
            v = values.get(spec["name"])
            if v is None:
                raise SystemExit(f"metric {spec['name']} was not measured")
            out[spec["name"]] = {"value": v, "unit": spec["unit"]}
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": out}))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    main()
