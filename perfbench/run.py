#!/usr/bin/env python3
"""Benchmark of the IMS -> OME-Zarr conversion and the query surface.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke
    python3 perfbench/run.py --dump <dir> --workload queries-llm [--smoke-scale]

Run from the repository root. It builds the program from source
(`perfbench/build.py`), makes the workload's inputs from the seed, runs one
JVM in local mode and prints one JSON line last: `correct`, `attempted`,
`failed` and the metrics (end-to-end with `--trace 0`, per-layer with
`--trace 1`). Everything it writes lives under `.perfbench/` in the
checkout; the traced run's spans land in `.perfbench/traces/`.

`--smoke` runs every workload once on tiny inputs (the in-repo
`ims_pyramid.ims` fixture and sf0.001 tables) and asserts that the program
emitted every named metric its kind of workload exercises, with its unit,
and that nothing failed.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

WORKLOADS = ("convert-translate", "convert-pyramid", "queries-llm")
TILE_SHAPE = (256, 512, 1024)
TILE_VARIANTS = 2        # tile content is drawn from seed % 2
TABLE_SCALE = 0.1        # tables at 1/10 of the sf0.1 row counts (see NOTES.md)
SMOKE_SCALE = 0.01       # sf0.001
HEAP = "4g"
RUN_LIMIT_S = 175         # a run must end within 180 s (the first, which builds, within 900 s)
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def cores():
    return max(1, min(4, os.cpu_count() or 1))


FIXTURE = os.path.join(ROOT, "src", "test", "resources", "fixtures", "ims_pyramid.ims")


def tile_for(seed, smoke):
    if smoke:
        return FIXTURE
    path = os.path.join(WORK, "tiles", f"tile-v{seed % TILE_VARIANTS}.ims")
    if not os.path.exists(path):
        import gen_tile
        os.makedirs(os.path.dirname(path), exist_ok=True)
        gen_tile.write_tile(path, seed % TILE_VARIANTS, TILE_SHAPE)
    return path


def tables_for(scale):
    path = os.path.join(WORK, f"tables-{scale}")
    if not os.path.exists(path):
        import gen_tables
        os.makedirs(WORK, exist_ok=True)
        gen_tables.main(path, scale)
    return path


def run_jvm(build_dir, jars, workload, seed, seconds, trace, smoke, dump="", deadline=None,
            prepare=False):
    scratch = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(os.path.join(scratch, "tmp"))
    traces = os.path.join(WORK, "traces")
    os.makedirs(traces, exist_ok=True)
    result = os.path.join(scratch, "result.json")
    scale = SMOKE_SCALE if smoke else TABLE_SCALE
    conversion = workload.startswith("convert-")
    inputs = tile_for(seed, smoke) if conversion else tables_for(scale)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={scratch}/tmp", f"-Dspark.local.dir={scratch}/spark",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.path.join(build_dir, "classes") + os.pathsep + os.path.join(jars, "*"),
            "graft.perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--cores", str(cores()),
            "--tile" if conversion else "--tables", inputs,
            "--ref", os.path.join(build_dir, "ref-smoke" if smoke else "ref"),
            "--scratch", scratch,
            "--fingerprints", os.path.join(HERE, "fingerprints-smoke.json" if smoke else "fingerprints.json"),
            "--result", result,
            "--trace-out", os.path.join(traces, f"{workload}-seed{seed}.json"),
            "--dump", dump, "--prepare", "1" if prepare else "0", "--warmup", FIXTURE]
    timeout = max(60, (deadline or time.time() + RUN_LIMIT_S) - time.time())
    log = os.path.join(scratch, "jvm.log")
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1")
    try:
        with open(log, "w") as lf:
            p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=scratch, env=env)
            try:
                p.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                raise SystemExit(f"perfbench: {workload} did not finish in time")
        if p.returncode != 0 or not os.path.exists(result):
            sys.stderr.write(open(log).read()[-4000:])
            raise SystemExit(f"perfbench: {workload} JVM exited with {p.returncode}")
        with open(result) as f:
            return json.load(f)
    finally:
        if os.path.exists(log):
            shutil.copy(log, os.path.join(traces, f"{workload}-seed{seed}{'-trace' if trace else ''}.log"))
        shutil.rmtree(scratch, ignore_errors=True)


def prepare(build_dir, jars, workload, seed, smoke):
    """Build and voxel-check the reference store of this tile, once; the
    measured run counts any shard that disagrees with the source."""
    stem = os.path.basename(tile_for(seed, smoke))[:-len(".ims")]
    marker = os.path.join(build_dir, "ref-smoke" if smoke else "ref", f"{workload}-{stem}", "VERIFIED")
    if not os.path.exists(marker):
        run_jvm(build_dir, jars, workload, seed, 0, False, smoke, prepare=True)


def declared(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


# per-layer metrics a kind of workload does not exercise: the program does
# not emit them and they are reported as 0
NOT_EXERCISED = {"convert": ("operators.", "spark.", "core.", "functions."),
                 "queries": ("sources.", "plans.", "sinks.")}


def expected(trace, workload):
    """Declared metrics the JVM must emit for this workload, with units."""
    skip = NOT_EXERCISED[workload.split("-")[0]] if trace else ()
    return {n: u for n, u in declared(trace).items() if not n.startswith(skip)}


def complete(res, trace, workload):
    """Check the JVM's metrics against `expected` (names and units), then
    add the declared per-layer metrics the workload does not exercise as 0."""
    got = res["metrics"]
    want = expected(trace, workload)
    missing = sorted(set(want) - set(got))
    extra = sorted(set(got) - set(want))
    if missing or extra:
        raise SystemExit(f"perfbench: {workload} metrics missing {missing}, unexpected {extra}")
    for n, u in want.items():
        if got[n]["unit"] != u:
            raise SystemExit(f"perfbench: {n} reported in {got[n]['unit']}, declared {u}")
    res["metrics"] = {n: got.get(n, {"value": 0, "unit": u}) for n, u in declared(trace).items()}
    return res


def smoke(build_dir, jars):
    for w in WORKLOADS:
        if w.startswith("convert-"):
            prepare(build_dir, jars, w, 1, True)
        for trace in (False, True):
            res = complete(run_jvm(build_dir, jars, w, 1, 1, trace, smoke=True), trace, w)
            assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0, (w, trace, res)
            print(f"smoke {w} trace={int(trace)}: ok, {res['attempted']} checked")
    print(json.dumps({"smoke": "ok"}))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--dump", default="")
    ap.add_argument("--smoke-scale", action="store_true", help="with --dump: the smoke tables")
    a = ap.parse_args()
    t0 = time.time()
    import build
    build_dir, jars = build.build(ROOT)
    # a run that had to build gets the first run's allowance
    deadline = t0 + (RUN_LIMIT_S if time.time() - t0 < 5 else 880)
    if a.smoke and not a.dump:
        return smoke(build_dir, jars)
    if not a.workload:
        ap.error("--workload is required")
    if a.dump:
        res = run_jvm(build_dir, jars, a.workload, a.seed, 0, False, a.smoke_scale,
                      os.path.abspath(a.dump))
        print(json.dumps(res))
        if res["failed"]:
            raise SystemExit("perfbench: the dump failed, see the JVM log in .perfbench/traces/")
        return
    if a.workload.startswith("convert-"):
        prepare(build_dir, jars, a.workload, a.seed, False)
    res = complete(run_jvm(build_dir, jars, a.workload, a.seed, a.seconds, bool(a.trace), False,
                           deadline=deadline), bool(a.trace), a.workload)
    print(f"perfbench: {a.workload} seed {a.seed} took {time.time() - t0:.1f} s", file=sys.stderr)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
