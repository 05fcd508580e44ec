#!/usr/bin/env python3
"""graft's benchmark: one workload, one run.

    python3 perfbench/run.py --workload fraud_daily --seed 1 --seconds 12 --trace 0

Builds the program from the checkout's sources (see build.py), makes the
workload's inputs from the seed, runs the JVM driver (one Spark session
at local[4], one calling thread, an untimed warm-up pass, then timed
passes worth about --seconds), checks every output, prints a metric
table and, as the last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics; --trace 1 traces every pass
but the first and the last and reports the per-layer metrics and the
tracing overhead. The full result (every pass and operation, spans when
traced) is written under --results. The exit code is 0 only when every
operation succeeded and every output matched.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

ROOT = build.ROOT
DATA = os.path.join(HERE, "data", "sf0.01")
TIME_LIMIT_S = 175
WORKLOADS = ["fraud_daily", "query_tail"]
# A run makes round(--seconds / PASS_S) timed passes: a count, not a
# deadline, so both sides of an A/B do the same work.
PASS_S = 4
# Spans that execute (not construct or plan): exec.exec_s is their time.
EXEC_SPANS = {"exec", "load", "scd2", "publish", "archive"}
FRAUD_RULES = ["passport_fraud", "account_fraud", "city_fraud", "guessing_amount_fraud"]
RULE_QUERIES = {"passport_fraud": "q_fraud_passport", "account_fraud": "q_fraud_account",
                "city_fraud": "q_fraud_city", "guessing_amount_fraud": "q_fraud_amount"}
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
END_TO_END = [(m["name"], m["unit"]) for m in SPEC["end_to_end"]]
PER_LAYER = [(m["name"], m["unit"]) for m in SPEC["per_layer"]]


def tail(passes):
    """The median over passes of each pass's slowest operation. A
    percentile over a run's pooled operations would fall between the
    latency bands of two queries (or days) and jump with their order."""
    return statistics.median(max(p) for p in passes)


def run_driver(workload, seed, passes, trace, work, cp, deadline, extra):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(work, "result.json")
    cmd = ["java", *JVM_OPENS, "-Xms2g", "-Xmx2g", "-Xss4m", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-cp", cp, "graftbench.Driver", f"workload={workload}", f"seed={seed}",
           f"passes={passes}", f"trace={trace}", f"work={work}", f"out={out}",
           *[f"{k}={v}" for k, v in extra.items()]]
    with open(os.path.join(work, "driver.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("driver exceeded the time limit")
    if proc.returncode != 0 or not os.path.isfile(out):
        with open(os.path.join(work, "driver.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        raise SystemExit(f"driver failed with exit code {proc.returncode}")
    with open(out) as f:
        return json.load(f)


def layer_metrics(res, untraced_walls):
    """Per-layer metrics: medians over the traced passes of per-pass sums."""
    traced = [p for p in res["passes"] if p["traced"]]
    per_pass = []
    for p in traced:
        lay = p["layers"]

        def tot(counter, phases=None):
            return sum(v for k, v in lay.items()
                       if k.split("|")[1] == counter
                       and (phases is None or k.split("|")[0] in phases))
        exec_s = tot("span_s", EXEC_SPANS)
        m = {
            "SparkEntry.construct_s": tot("span_s", {"construct"}),
            "SparkEntry.construct_jobs": tot("jobs", {"construct"}),
            "plan.plan_s": tot("span_s", {"plan"}),
            "codegen.compiles": p["compiles"], "codegen.compile_s": p["compile_s"],
            "exec.exec_s": exec_s,
            "exec.busy_frac": (tot("task_run_s", EXEC_SPANS) / (exec_s * res["cores"])
                               if exec_s else 0.0),
            "exec.task_skew": max([v for k, v in lay.items() if k.endswith("|task_skew")],
                                  default=0.0),
            "jvm.gc_s": p["gc_s"],
            "pins.blocks": tot("pin_blocks"), "pins.bytes": tot("pin_bytes"),
            "sources.load_s": tot("span_s", {"load"}),
            "sources.publish_s": tot("span_s", {"publish"}),
            "sources.archive_s": tot("span_s", {"archive"}),
            "etl.scd2_s": tot("span_s", {"scd2"}),
            "etl.history_rows": p["check"].get("history_rows", 0),
        }
        for name, counter in [("plan.exchanges", "exchanges"), ("plan.broadcasts", "broadcasts"),
                              ("plan.smj", "smj"),
                              ("plan.single_partition_windows", "single_partition_windows"),
                              ("exec.jobs", "jobs"), ("exec.stages", "stages"),
                              ("exec.tasks", "tasks"), ("exec.task_run_s", "task_run_s"),
                              ("exec.task_cpu_s", "task_cpu_s"),
                              ("exec.sched_wait_s", "sched_wait_s"),
                              ("shuffle.write_bytes", "shuffle_write_bytes"),
                              ("shuffle.read_bytes", "shuffle_read_bytes"),
                              ("shuffle.spill_bytes", "spill_bytes"),
                              ("shuffle.fetch_wait_s", "shuffle_fetch_wait_s"),
                              ("sources.scan_bytes", "scan_bytes"),
                              ("sources.scan_rows", "scan_rows"),
                              ("sources.write_bytes", "write_bytes"),
                              ("sources.files_written", "files_written")]:
            m[name] = tot(counter)
        per_pass.append(m)
    out = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
    out["codegen.setup_compiles"] = res["warmup"]["compiles"]
    out["codegen.setup_compile_s"] = res["warmup"]["compile_s"]
    traced_wall = statistics.median(p["wall_s"] for p in traced)
    base = statistics.median(untraced_walls)
    out["trace.overhead_s"] = traced_wall - base
    out["trace.overhead_frac"] = (traced_wall - base) / base
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--results", default=os.path.join(build.BUILD, "results"),
                    help="directory for the full result files")
    ap.add_argument("--corrupt", action="store_true",
                    help="self-test: corrupt one expected answer; the run must fail")
    a = ap.parse_args()
    deadline = time.monotonic() + TIME_LIMIT_S
    cp = os.pathsep.join(build.build())
    passes = max(3 if a.trace else 1, round(a.seconds / PASS_S))

    work = os.path.join(build.BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.workload == "fraud_daily":
            inputs = os.path.join(work, "inputs")
            expected = gen.fraud_daily(inputs, a.seed)
            with open(os.path.join(inputs, "days.txt"), "w") as f:
                f.write("\n".join(d["batch_id"] for d in expected["days"]) + "\n")
            extra = {"inputs": inputs}
        else:
            extra = {"data": DATA, "queries": os.path.join(HERE, "workloads", f"{a.workload}.txt")}
        res = run_driver(a.workload, a.seed, passes, a.trace, work, cp,
                         deadline - 15, extra)

        # ---- checks (untimed): failures are per operation
        tagged = ([("warmup", res["warmup"])] + [(f"p{i}", p) for i, p in enumerate(res["passes"])]
                  + [("verify", res["verify"])] * bool(res["verify"]["ops"]))
        failed = {(tag, o["name"]): o["err"] for tag, p in tagged for o in p["ops"] if o["err"]}
        mart_rows = {}
        if a.workload == "fraud_daily":
            day_of = {d["date"]: d["batch_id"] for d in expected["days"]}
            for tag, p in tagged:
                if "error" in p["check"]:
                    failed.update({(tag, o["name"]): p["check"]["error"] for o in p["ops"]})
                    continue
                errs, by_rule = oracle.check_fraud_pass(
                    expected, os.path.join(work, "check", tag), p["check"]["history_rows"],
                    corrupt=a.corrupt)
                for date, err in errs.items():
                    failed.setdefault((tag, day_of[date]), err)
                if p.get("traced"):
                    mart_rows = by_rule
        else:
            names = [o["name"] for o in res["warmup"]["ops"]]
            errs, rows = oracle.check_queries(DATA, os.path.join(work, "check"), names,
                                              ["warmup", "verify"], os.path.join(work, "tmp"),
                                              corrupt=a.corrupt)
            for key, err in errs.items():
                if err:
                    failed.setdefault(key, err)
            mart_rows = {r: rows.get(q, 0) for r, q in RULE_QUERIES.items()}
        attempted = sum(len(p["ops"]) for _, p in tagged)

        # ---- end-to-end metrics from the untraced passes
        untraced = [p for p in res["passes"] if not p["traced"]]
        lat = [o["s"] for p in untraced for o in p["ops"]]
        e2e = {
            "setup_s": res["setup_s"],
            "op_s_p50": statistics.median(lat),
            "op_s_tail": tail([[o["s"] for o in p["ops"]] for p in untraced]),
            "pass_s": statistics.median(p["wall_s"] for p in untraced),
            "cpu_s": statistics.median(p["cpu_s"] for p in untraced),
            "heap_mb": statistics.median(p["heap_mb"] for p in untraced),
        }
        extra_e2e = {"failed_frac": (len(failed) / attempted, "ratio")}
        if a.workload == "fraud_daily":
            extra_e2e["stored_bytes_per_input_byte"] = (statistics.median(
                p["check"]["stored_bytes"] / p["check"]["input_bytes"] for p in untraced),
                "ratio")
        units = dict(END_TO_END + PER_LAYER)
        if a.trace:
            layers = layer_metrics(res, [p["wall_s"] for p in untraced])
            for r in FRAUD_RULES:
                layers[f"fraud.mart_rows.{r}"] = mart_rows.get(r, 0)
            metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER}
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}

        # ---- report
        print(f"workload {a.workload}  seed {a.seed}  trace {a.trace}  cores {res['cores']}  "
              f"passes {len(res['passes'])}  timed ops {len(lat)}")
        for k, v in e2e.items():
            print(f"  {k:<32} {v:>14.6g} {units[k]}")
        for k, (v, u) in extra_e2e.items():
            print(f"  {k:<32} {v:>14.6g} {u}")
        if a.trace:
            for k, u in PER_LAYER:
                print(f"  {k:<32} {metrics[k]['value']:>14.6g} {u}")
        for (tag, name), err in sorted(failed.items()):
            print(f"  FAILED {tag} {name}: {err}")
        os.makedirs(a.results, exist_ok=True)
        record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
                  "seconds": a.seconds, "end_to_end": e2e,
                  "extra": {k: v for k, (v, _) in extra_e2e.items()},
                  "metrics": metrics, "attempted": attempted, "failed": len(failed),
                  "failures": [f"{t} {n}: {e}" for (t, n), e in sorted(failed.items())],
                  "driver": res}
        with open(os.path.join(a.results, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"),
                  "w") as f:
            json.dump(record, f)
        print(json.dumps({"correct": not failed, "attempted": attempted,
                          "failed": len(failed), "metrics": metrics}))
        return 1 if failed else 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
