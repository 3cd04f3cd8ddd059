"""perfbench: end-to-end benchmark of graft.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (build.py), generates the seed's inputs
(gen.py; untimed, cached per seed), runs the workload in one JVM with a
single closed-loop client, checks every distinct operation's output
against DuckDB (oracle.py) and prints, as its last line, one JSON object
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are BENCHMARK.json's end-to-end metrics, with `--trace 1` its
per-layer metrics. The lines before it print every metric under the name
README.md gives it, with its unit.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

# Workload-level names of the shared end-to-end metrics (README.md).
NAMES = {
    "app_session": {"throughput_per_s": "session.req_per_s",
                    "latency_p50_ms": "session.latency_p50_ms",
                    "latency_tail_ms": "session.latency_tail_ms"},
    "corpus_build": {"throughput_per_s": "build.docs_per_s",
                     "latency_p50_ms": "build.rep_p50_ms",
                     "latency_tail_ms": "build.rep_tail_ms"},
}
RUN_BUDGET_S = 170


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def run_jvm(jar, cds, spec, out, args, deadline):
    import build
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = build.java_command(jar, spec["jvm_heap"], tmp, args,
                             cds=f"-XX:SharedArchiveFile={cds}")
    logf = os.path.join(out, "jvm.log")
    with open(logf, "wb") as f:
        p = subprocess.Popen(cmd, stdout=f, stderr=f, cwd=ROOT, start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit("perfbench: the JVM exceeded the run's time budget")
    if rc != 0:
        with open(logf, errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: the JVM exited with {rc}")


def tail(latencies):
    """The highest order statistic with 10 samples beyond it: the 11th
    largest latency. With fewer than 11 samples, the largest."""
    s = sorted(latencies)
    return s[-11] if len(s) >= 11 else s[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(NAMES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run directory")
    ap.add_argument("--spec", default=os.path.join(HERE, "workloads.json"),
                    help="input sizes and traffic (smoke.py passes a tiny one)")
    a = ap.parse_args()
    for need in ("src/main/scala", "tools/oracle_check.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"perfbench: {need} not found; run from a checkout of graft")

    import build
    import gen
    import oracle

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    spec = gen.load_spec(a.spec)
    t0 = time.time()
    jar, cds = build.build()
    phases = {"build": time.time() - t0}

    work = build.work_dir()
    with open(a.spec, "rb") as f:
        digest = hashlib.sha1(f.read()).hexdigest()[:10]
    data = os.path.join(work, "data", f"{digest}-seed{a.seed}")
    t0 = time.time()
    if not os.path.exists(os.path.join(data, "GENERATED")):
        shutil.rmtree(data, ignore_errors=True)
        gen.generate(data, a.seed, spec)
    out = os.path.join(work, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    phases["generate"] = time.time() - t0
    t0 = time.time()
    try:
        run_jvm(jar, cds, spec, out, [
            "--workload", a.workload, "--data", data, "--out", out,
            "--spec", os.path.abspath(a.spec), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--model", build.model_dir()],
            time.time() + RUN_BUDGET_S)
        phases["jvm"] = time.time() - t0
        t0 = time.time()
        with open(os.path.join(out, "result.json")) as f:
            res = json.load(f)
        checked, bad = oracle.check(data, out)
        phases["check"] = time.time() - t0
    finally:
        if not a.keep:
            shutil.rmtree(out, ignore_errors=True)

    log("wall seconds: " + ", ".join(f"{k} {v:.1f}" for k, v in phases.items()))
    for key, msg in bad:
        log(f"WRONG {key}: {msg}")
    attempted = res["attempted"] + checked
    failed = res["failed"] + len(bad)
    lat = res["latencies_ms"]
    e2e = {"setup_s": res["setup_s"],
           "peak_rss_mb": res["peak_rss_mb"],
           "throughput_per_s": res["throughput_per_s"],
           "latency_p50_ms": statistics.median(lat),
           "latency_tail_ms": tail(lat)}
    p = 100.0 * (len(lat) - 11) / (len(lat) - 1) if len(lat) >= 11 else 100.0
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    names = NAMES[a.workload]
    print(f"workload {a.workload} seed {a.seed}: {res['attempted']} timed operations, "
          f"closed loop, 1 client, {len(lat)} latency samples ({res['unit']} unit), "
          f"{checked} outputs checked against DuckDB")
    for k, v in e2e.items():
        note = f"p{p:.0f} of {len(lat)} samples, " if k == "latency_tail_ms" else ""
        print(f"{k} = {v:.6g} {units[k]} ({note}{names.get(k, k)})")
    print(f"failed_ratio = {failed / attempted:.6g} ratio ({failed} failed or wrong of {attempted})")
    for k, v in res["extra"].items():
        print(f"{k} = {v}")
    for k, v in sorted(res["ops"].items()):
        print(f"op {k}: n={v['n']} p50={v['p50_ms']:.1f} ms")
    if a.trace:
        metrics = {m["name"]: {"value": res["per_layer"][m["name"]], "unit": m["unit"]}
                   for m in bench["per_layer"]}
        for k, v in metrics.items():
            print(f"{k} = {v['value']:.6g} {v['unit']}")
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
