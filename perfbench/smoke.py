"""Smoke test of perfbench itself, on tiny inputs.

    python3 perfbench/smoke.py

Runs every workload once untraced and once traced, on a scaled-down copy
of workloads.json, for a few seconds each, and checks that:
  - every run exits 0 and reports no failed or wrong operation
    (failed_ratio 0);
  - every BENCHMARK.json metric is printed by name with its unit, both in
    the report lines and in the final JSON line;
  - every corpus_build rep runs as many PlanMemo builders as the first
    rep (no warm state leaks from one rep into the next);
  - app_session records its PlanMemo build count after the warm-up.
Exits non-zero on the first failed check.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)


def main():
    import build
    import gen
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    spec = gen.tiny_spec(gen.load_spec())
    os.makedirs(build.work_dir(), exist_ok=True)
    tiny = os.path.join(build.work_dir(), "smoke_workloads.json")
    with open(tiny, "w") as f:
        json.dump(spec, f, indent=2)

    problems = []
    for w in (x["name"] for x in bench["workloads"]):
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                   "--seed", "7", "--seconds", "3", "--trace", str(trace), "--spec", tiny]
            r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            tag = f"{w} trace={trace}"
            lines = r.stdout.strip().splitlines()
            if r.returncode != 0 or not lines:
                problems.append(f"{tag}: exit {r.returncode}\n{r.stderr[-2000:]}")
                continue
            res = json.loads(lines[-1])
            expected = bench["per_layer"] if trace else bench["end_to_end"]
            for m in expected:
                got = res["metrics"].get(m["name"])
                if got is None or got["unit"] != m["unit"]:
                    problems.append(f"{tag}: metric {m['name']} missing from the JSON line")
                if not any(ln.startswith(m["name"] + " = ") and f" {m['unit']}" in ln
                           for ln in lines[:-1]):
                    problems.append(f"{tag}: metric {m['name']} not printed with its unit")
            if res["failed"] != 0 or not res["correct"]:
                problems.append(f"{tag}: failed_ratio is not 0 ({res['failed']} failed)")
            if not any(ln.startswith("failed_ratio = 0 ratio") for ln in lines):
                problems.append(f"{tag}: failed_ratio 0 not printed")
            extra = dict(ln.split(" = ", 1) for ln in lines if " = " in ln)
            if w == "corpus_build" and trace:
                builds = json.loads(extra["PlanMemo.builds_per_rep"])
                if len(builds) < 2 or any(b != builds[0] for b in builds):
                    problems.append(f"{tag}: PlanMemo builds differ between reps: {builds}")
            if w == "app_session" and "PlanMemo.builds_after_warmup" not in extra:
                problems.append(f"{tag}: PlanMemo.builds_after_warmup not recorded")
            print(f"{tag}: ok" if not problems else f"{tag}: {len(problems)} problem(s)",
                  flush=True)
    for p in problems:
        print("PROBLEM", p)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
