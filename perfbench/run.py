"""perfbench: the repository's benchmark. One command per run:

  python3 perfbench/run.py --workload <triage|log_store|curation> \
      --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. It builds the program from source
(perfbench/build.py), writes the workload's inputs from the seed
(perfbench/gen.py), runs one benchmark JVM (perfbench/src), checks the
outputs, and prints as its last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json, with --trace 1 its
per-layer metrics (0 for a layer the workload does not run). A failed
output check prints "correct": false and exits 1.
"""
import argparse
import csv
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # runs write only their build and work dirs
import build  # noqa: E402
import gen  # noqa: E402

TRIAGE_LINES = 8000
STORE_BASE_LINES = 2000
STORE_BATCH_LINES = 500
STORE_BATCHES = 40
RUN_TIMEOUT_S = 170
BURST_RULE = "Attack Success After High-Frequency Server Failures"  # BurstDetector.RuleTitle
CLI_HEAP = "-Xmx2g"  # the CLI's bound JVM, as `sbt runMain` would fork it
BENCH_HEAP = "-Xmx3g"


def make_inputs(workload, seed, work, paths):
    inp = os.path.join(work, "input")
    if workload == "triage":
        return gen.triage_corpus(inp, seed, TRIAGE_LINES)
    if workload == "log_store":
        return gen.log_store_inputs(inp, seed, STORE_BASE_LINES, STORE_BATCH_LINES,
                                    STORE_BATCHES)
    # curation: fixed tables, written and oracle-checked by the build
    with open(os.path.join(paths["curation"], "data", "truth.json")) as fp:
        return json.load(fp)


def csv_rows(path):
    with open(path) as fp:
        lines = fp.read().splitlines()
    return (lines[0] if lines else "", sorted(lines[1:]))


def check_outputs(workload, truth, res, work):
    """Checks made here rather than in the JVM; the JVM's own checks
    (digests, replay) arrive in res["checks"]."""
    checks = {k: (v["ok"], v["detail"]) for k, v in res["checks"].items()}
    if os.path.exists(os.path.join(work, "cli.csv")):  # traced runs
        cli, inproc = (csv_rows(os.path.join(work, f)) for f in ("cli.csv", "inproc.csv"))
        checks["cli_equals_in_process"] = (
            cli == inproc and len(cli[1]) > 0,
            f"CLI {len(cli[1])} rows vs in-process {len(inproc[1])} rows")
    if workload == "triage":
        obs = dict(res["observed"])
        with open(os.path.join(work, "inproc.csv"), newline="") as fp:
            rows = list(csv.DictReader(fp))
        obs["burst_rows"] = sum(r["Rule"] == BURST_RULE for r in rows)
        obs["tool_rows"] = sum(r["TID"] != "" for r in rows)
        want = {f"format.{k}": v for k, v in truth["lines_per_parsed_format"].items()}
        want.update({"parsed_lines": truth["parsed_lines"],
                     "error_lines": truth["garbage_lines"],
                     "dedup_dropped": truth["cross_file_duplicates"],
                     "burst_rows": truth["burst_rows"],
                     "tool_rows": truth["tool_rows"],
                     "hot_ip_lines": truth["hot_ip_lines"]})
        for k, v in want.items():
            got = obs.get(k)
            checks[f"planted.{k}"] = (got is not None and int(got) == v,
                                      f"observed {got}, planted {v}")
    return checks


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["triage", "log_store", "curation"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fp:
        spec = json.load(fp)
    try:
        paths = build.build()
    except build.BuildError as e:
        sys.exit(f"perfbench: build failed: {e}")

    work = os.path.join(ROOT, ".bench_work", a.workload)
    if os.path.isdir(work):
        shutil.rmtree(work)
    os.makedirs(os.path.join(work, "tmp"))
    truth = make_inputs(a.workload, a.seed, work, paths)

    with open(os.path.join(work, "cli_prefix.txt"), "w") as fp:
        fp.write("\n".join(["java", build.NO_PERF_DATA] + build.SBT_RUN_OPTS + [
            CLI_HEAP, f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/tmp",
            "-cp", build.java_cp(paths["classes"])]) + "\n")
    out = os.path.join(work, "result.json")
    cmd = (["java", build.NO_PERF_DATA] + build.SBT_RUN_OPTS + [
        BENCH_HEAP, f"-Djava.io.tmpdir={work}/tmp",
        "-cp", build.java_cp(paths["classes"], paths["bench"]), "perfbench.Runner",
        "--workload", a.workload, "--seed", str(a.seed), "--work", work,
        "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--out", out,
        "--cli-prefix", os.path.join(work, "cli_prefix.txt"),
        "--cert", paths["curation"]])
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    log = os.path.join(work, "runner.log")
    try:
        rc = build.run_logged(cmd, log, RUN_TIMEOUT_S, env)
    except build.BuildError as e:
        sys.exit(f"perfbench: benchmark JVM {e}")
    if rc != 0 or not os.path.exists(out):
        with open(log) as fp:
            tail = fp.read()[-3000:]
        sys.exit(f"perfbench: benchmark JVM exited {rc}; log tail:\n{tail}")
    with open(out) as fp:
        res = json.load(fp)

    checks = check_outputs(a.workload, truth, res, work)
    for k, (ok, detail) in checks.items():
        print(f"[check] {'ok  ' if ok else 'FAIL'} {k}: {detail}")
    for k, v in res["notes"].items():
        print(f"[note] {k}: {v}")

    if a.trace == 0:
        want, got = spec["end_to_end"], res["metrics"]
        missing = [m["name"] for m in want if m["name"] not in got]
        if missing:
            checks["metrics_present"] = (False, f"missing end-to-end metrics {missing}")
    else:
        want, got = spec["per_layer"], res["per_layer"]
        unmeasured = [m["name"] for m in want if m["name"] not in got]
        print(f"[note] per-layer metrics this workload does not run (reported 0): "
              f"{len(unmeasured)} of {len(want)}")
        print(f"[note] spans written under {work}")
    metrics = {m["name"]: {"value": got.get(m["name"], 0.0), "unit": m["unit"]} for m in want}
    correct = all(ok for ok, _ in checks.values()) and res["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
