#!/usr/bin/env python3
"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload rebuild|interactive --seed N \\
        --seconds S --trace 0|1 [--heap 3g]

Run from the repository root. It builds the program and the benchmark
(`perfbench/build.py`), makes the workload's inputs from the seed, runs the
workload in one JVM at `local[<cores>]`, checks every output, and prints as
its last stdout line one JSON object with `correct`, `attempted`, `failed`
and `metrics` — the end-to-end metrics with `--trace 0`, the per-layer
metrics with `--trace 1`. It exits non-zero when any check fails.

Everything it writes stays under `.bench_build/`; per-run artifacts (checks,
per-operation host signals, the span trace) go to `.bench_build/artifacts/`.
See perfbench/README.md.
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
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = Path.cwd()
HERE = Path(__file__).resolve().parent
ARTIFACTS = build.BUILD / "artifacts"
RUN_LIMIT_S = 170  # a run, its build aside, must end within 180 s
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def java_cmd(classes, heap, work, main_args):
    return (["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] +
            [f"-Xmx{heap}", "-XX:ReservedCodeCacheSize=512m",
             f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dspark.local.dir={work / 'spark-local'}",
             f"-Dspark.sql.warehouse.dir={work / 'warehouse'}", f"-Dderby.system.home={work}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", f"{classes}:{build.spark_jars()}/*", "perfbench.Main"] + main_args)


def run_jvm(cmd, log, timeout):
    """Run the JVM in its own process group; kill the group on timeout."""
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def reject_non_finite(token):
    raise ValueError(f"non-finite number {token} in the workload result")


def digest(d):
    h = hashlib.sha256()
    for p in sorted(d.rglob("*")):
        if p.is_file():
            h.update(str(p.relative_to(d)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def generate(workload, seed, data, sizes, repeats=3):
    """Write the workload's inputs `repeats` times (set-up is repeated so its
    median can be reported). Returns (generator result, median seconds,
    whether every time wrote the same bytes)."""
    data = data / workload
    if workload == "rebuild":
        import synth_gen
        dims = tuple(map(int, sizes.split(","))) if sizes else synth_gen.DEFAULT_SIZES

        def gen():
            return synth_gen.generate(seed, data, dims)
    else:
        import tpch_gen

        def gen():
            return tpch_gen.generate(seed, data)
    times, digests = [], []
    for _ in range(repeats):
        shutil.rmtree(data, ignore_errors=True)
        t0 = time.monotonic()
        result = gen()
        times.append(time.monotonic() - t0)
        digests.append(digest(data))
    return result, statistics.median(times), len(set(digests)) == 1


def expected_names(trace):
    spec = ROOT / "BENCHMARK.json"
    if not spec.is_file():
        return None
    b = json.loads(spec.read_text())
    return {m["name"]: m["unit"] for m in b["per_layer" if trace else "end_to_end"]}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["rebuild", "interactive"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--heap", default="3g")
    ap.add_argument("--sizes", default="", help="rebuild users,projects,outputs per round")
    ap.add_argument("--plant", default="", help="rebuild: add 1 to this table's expected row count")
    a = ap.parse_args(argv)

    classes = build.build()
    started = time.monotonic()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = build.BUILD / "runs" / f"{tag}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    ARTIFACTS.mkdir(parents=True, exist_ok=True)
    result_file = work / "result.json"
    main_args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                 "--trace", str(a.trace), "--work", str(work), "--result", str(result_file),
                 "--trace-file", str(ARTIFACTS / f"trace-{tag}.json")]
    try:
        # a traced run measures every layer, so it runs both workloads; to
        # stay within the run time limit it generates their inputs once
        data = work / "data"
        workloads = ["rebuild", "interactive"] if a.trace else [a.workload]
        gens = {w: generate(w, a.seed, data, a.sizes, 1 if a.trace else 3) for w in workloads}
        main_args += ["--data", str(data), "--gen-s", repr(gens[a.workload][1]),
                      "--queries", str(HERE / "interactive_queries.txt")]
        if "rebuild" in gens:
            expected = gens["rebuild"][0]
            if a.plant:
                expected["counts"][a.plant] += 1
            (work / "expected.json").write_text(json.dumps(expected))
            main_args += ["--expected", str(work / "expected.json")]
        rc = run_jvm(java_cmd(classes, a.heap, work, main_args), work / "jvm.log",
                     timeout=RUN_LIMIT_S - 5 - (time.monotonic() - started))
        if rc != 0 or not result_file.is_file():
            sys.stderr.write((work / "jvm.log").read_text()[-4000:])
            fail(f"workload JVM {'timed out' if rc is None else f'exited with {rc}'}")
        res = json.loads(result_file.read_text(), parse_constant=reject_non_finite)
        checks = [(f"generator.deterministic.{w}", g[2], "three generations of one seed wrote the same bytes")
                  for w, g in gens.items() if not a.trace]
        if "interactive" in gens:
            import oracle
            checks += oracle.check(data / "interactive", work / "check")
        res["checks"] += [{"name": n, "ok": ok, "detail": d} for n, ok, d in checks]
        res["attempted"] += len(checks)
        res["failed"] += sum(not ok for _, ok, _ in checks)
        res["correct"] = res["correct"] and all(ok for _, ok, _ in checks)
        (ARTIFACTS / f"result-{tag}.json").write_text(json.dumps(res, indent=1))
        want = expected_names(a.trace)
        if want is not None and {k: v["unit"] for k, v in res["metrics"].items()} != want:
            fail("metrics differ from BENCHMARK.json")
        for c in res["checks"]:
            if not c["ok"]:
                sys.stderr.write(f"perfbench: check {c['name']} FAILED: {c['detail']}\n")
        print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")},
                         allow_nan=False))
        return 0 if res["correct"] else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
