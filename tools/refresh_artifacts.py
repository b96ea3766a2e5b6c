"""Regenerate every in-repo evidence artifact on CURRENT code, in order.

Rounds 3 and 4 both shipped stale artifacts (SCALE.json / SELFCHECK.json
describing prior-round code) because each regeneration was a separate
manual step. This runner is the single end-of-round command:

    python tools/refresh_artifacts.py            # everything, sequential
    python tools/refresh_artifacts.py --only scale,bench
    python tools/refresh_artifacts.py --list

Steps run SEQUENTIALLY — bench and scale MEASURE wall-clock, so nothing
else should share the machine while they run. scale gets
SPARK_GRAFT_DRIVER_MEM=40g automatically (the deep 100x tier OOMs the
8g default). Each step is a fresh process: Spark session state, JIT,
and caches cannot leak between artifacts.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# name -> (argv, extra_env, artifact_path)
STEPS: dict[str, tuple[list[str], dict[str, str], str]] = {
    "plans": ([sys.executable, "tools/plans_report.py"], {}, "PLANS.md"),
    "selfcheck": ([sys.executable, "tools/self_correctness.py"], {},
                  "SELFCHECK.json"),
    "empty": ([sys.executable, "tools/empty_probe.py", "--write"], {},
              "EMPTYCHECK.json"),
    "null": ([sys.executable, "tools/null_probe.py", "--write"], {},
             "NULLCHECK.json"),
    "unicode": ([sys.executable, "tools/unicode_probe.py", "--write"], {},
                "UNICHECK.json"),
    "fetch": ([sys.executable, "tools/gate_fetch_paths.py", "--write"], {},
              "FETCHCHECK.json"),
    "scale": ([sys.executable, "tools/scale_probe.py"],
              {"SPARK_GRAFT_DRIVER_MEM": "40g"}, "SCALE.json"),
    "bench": ([sys.executable, "bench.py"], {}, "BENCH.json"),
}


def main() -> int:
    args = sys.argv[1:]
    if "--list" in args:
        for name, (_, env, artifact) in STEPS.items():
            print(f"{name:10s} -> {artifact}"
                  + (f"  (env {env})" if env else ""))
        return 0
    only = None
    if "--only" in args:
        only = set(args[args.index("--only") + 1].split(","))
        unknown = only - set(STEPS)
        if unknown:
            print(f"unknown steps: {sorted(unknown)}; "
                  f"valid: {sorted(STEPS)}", file=sys.stderr)
            return 2
    failures = []
    for name, (argv, extra_env, artifact) in STEPS.items():
        if only is not None and name not in only:
            continue
        env = {**os.environ, **extra_env}
        t0 = time.time()
        print(f"== {name} ({' '.join(argv[1:])}) ==", flush=True)
        # Capture output to a per-step log (NOT devnull: a failed step
        # must leave diagnostics — ADVICE r05) and print the tail on
        # failure. Steps stay quiet on success; the logs live under
        # /tmp so they never pollute the repo.
        log_path = os.path.join("/tmp", f"refresh_{name}.log")
        with open(log_path, "wb") as log:
            proc = subprocess.run(argv, cwd=ROOT, env=env,
                                  stdout=log, stderr=subprocess.STDOUT)
        dt = time.time() - t0
        path = os.path.join(ROOT, artifact)
        fresh = os.path.exists(path) and os.path.getmtime(path) >= t0
        status = ("ok" if proc.returncode == 0 and fresh
                  else f"FAILED (rc={proc.returncode}, fresh={fresh})")
        print(f"   {status} in {dt:.0f}s -> {artifact}  [log: {log_path}]",
              flush=True)
        if "FAILED" in status:
            failures.append(name)
            try:
                with open(log_path, "rb") as f:
                    tail = f.read()[-4000:].decode("utf-8", "replace")
                print(f"---- {name} output tail ----\n{tail}\n"
                      f"---- end {name} tail ----", file=sys.stderr)
            except OSError as e:
                print(f"   (could not read {log_path}: {e})",
                      file=sys.stderr)
    if failures:
        print(f"FAILED steps: {failures}", file=sys.stderr)
        return 1
    print("all artifacts regenerated on current code")
    # Loud dirty-tree warning (VERDICT r07 #4): round 7 ended with the
    # refreshed official BENCH.json sitting uncommitted — one stray
    # checkout from data loss (and a later verification run did clobber
    # it). Artifacts must land in the same commit as the code that
    # produced them; this runner cannot commit for you, but it will not
    # let the gap pass silently.
    try:
        dirty = subprocess.run(
            ["git", "status", "--porcelain"], cwd=ROOT,
            capture_output=True, text=True).stdout.strip()
    except OSError:
        dirty = ""
    if dirty:
        print("\n!! WORKING TREE IS DIRTY — commit the refreshed artifacts "
              "NOW (uncommitted official artifacts have been lost to "
              "verification re-runs before):\n" + dirty, file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
