#!/usr/bin/env python3
"""perfbench: end-to-end and per-layer benchmark of the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the library and the
harness (perfbench/harness, an sbt project that depends on the repo root)
and caches the classpath under .bench_build/perfbench; later runs reuse
it while the sources are unchanged. The OMIM inputs are generated from
--seed and cached by seed; generation time is reported but is not part
of any metric. The query inputs are the repo's sf0.1 bench data, kept in
perfbench/data/sf0.1 and the same for every seed: documents.parquet (the
only table the leader queries read), region and nation are copied
unchanged; the other seven tables are zero-row files with the sf0.1
schemas, there so that the DuckDB oracle check can bind its views.

Each run is one JVM (perfbench.Harness) holding one local[nproc] Spark
session with graft.Bench's settings, and one closed-loop client with one
operation in flight:

  omim_release    one op = BuildGraph.build + writeArtifacts into a fresh
                  directory, on a generated OMIM source directory
                  (OMIM_FRACTION of the reference's size). One release per
                  run, after the q40 fixture build has warmed the JVM.
  leaders_scaled  one op = one task-bound query (QueryDef.fn + a parquet
                  write of its result) on the sf0.1 documents table (1x;
                  the workload keeps the name of the scaled set). After
                  one untimed pass, passes until --seconds have passed.

--trace 0 prints the end-to-end metrics of BENCHMARK.json; --trace 1
warms up with one untimed pass, alternates untraced and traced passes
(at least one of each) and prints the per-layer metrics,
writing spans.jsonl and layers.tsv under .bench_build/perfbench/trace/
<workload>/. Output checks run after the timed passes in both modes, on
what the last timed pass wrote: query results against their DuckDB
oracle (tools/verify_local.py, graft.Verify's layout) on the run's own
data; each release against the row counts the generator predicts, plus
the q40 fixture digest; traced runs, which make two or more releases,
also check that the triple count repeats. The last stdout line is the
JSON result.
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
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True   # leave nothing behind in perfbench/
import gen_omim  # noqa: E402

# graft.Bench's session and `sbt run`'s JVM flags (build.sbt)
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
HEAP = "4g"
SETUPS = 5
RUN_LIMIT_S = 170          # the whole run, build excluded
OMIM_FRACTION = 0.25       # of the reference's release size (BASELINE.md)
SF_DATA = os.path.join(HERE, "data", "sf0.1")
FIXTURE_TRIPLES, FIXTURE_DIGEST = 403, "31a6d9092e589eb5839a3d6cec44ba77"

# leaders_scaled: the seven ROADMAP leader targets, all of them reading
# only the documents table (task-bound: r17 sf1/sf0.1 ratio of at least 5x,
# plus q112b).
LEADERS = [
    "q117_fuzzy_verify", "q24_jaccard_verify", "q78_pii_scrub", "q62_countmin_heavy_hitters",
    "q23_minhash_lsh", "q98_inverted_index", "q112b_pagerank_dangling",
]
WORKLOADS = {
    # one release per run; only the small q40 fixture build warms it up
    "omim_release": {"kind": "omim", "queries": [], "warmup": 0, "max_passes": 1},
    # warm: one untimed pass first, as graft.Bench's medians are
    "leaders_scaled": {"kind": "queries", "queries": LEADERS, "warmup": 1, "max_passes": 0},
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build: the library and the harness."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "harness", "build.sbt"),
             os.path.join(HERE, "harness", "project", "build.properties"),
             os.path.join(HERE, "harness", "src")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the library and the harness with sbt once per source state;
    return the harness classpath."""
    bdir = os.path.join(WORK, "build")
    os.makedirs(bdir, exist_ok=True)
    stamp, cp_file = source_stamp(), os.path.join(bdir, "classpath.txt")
    stamp_file = os.path.join(bdir, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log("building library and harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    with open(os.path.join(bdir, "build.log"), "w") as lf:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "-Dsbt.server.autostart=false", "export Runtime/fullClasspath"],
                           cwd=os.path.join(HERE, "harness"), env=env, stdout=subprocess.PIPE,
                           stderr=lf, text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed; see .bench_build/perfbench/build/build.log", 3)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"build done in {time.time() - t0:.1f}s")
    return lines[-1].strip()


def make_inputs(workload, seed, keep=3):
    """The workload's input directory. OMIM sources are generated and
    cached by (size, seed); only the newest few stay."""
    if WORKLOADS[workload]["kind"] == "queries":
        return SF_DATA
    kind = f"omim{OMIM_FRACTION}"
    ddir = os.path.join(WORK, "data")
    path = os.path.join(ddir, f"{kind}-seed{seed}")
    if not os.path.exists(os.path.join(path, ".done")):
        shutil.rmtree(path, ignore_errors=True)
        gen_omim.generate(seed, path, OMIM_FRACTION)
        open(os.path.join(path, ".done"), "w").close()
    os.utime(path)
    old = sorted((d for d in os.listdir(ddir) if d.startswith(kind + "-seed")),
                 key=lambda d: os.path.getmtime(os.path.join(ddir, d)))
    for d in old[:-keep]:
        shutil.rmtree(os.path.join(ddir, d), ignore_errors=True)
    return path


def run_harness(cp, workload, data, seconds, trace, out, deadline):
    w = WORKLOADS[workload]
    cores = len(os.sched_getaffinity(0))
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xmx{HEAP}", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={out}/tmp", "-cp", cp, "perfbench.Harness",
            f"workload={workload}", f"kind={w['kind']}", f"data={data}", f"seconds={seconds}",
            f"trace={trace}", f"out={out}", f"cores={cores}", f"setups={SETUPS}",
            f"queries={','.join(w['queries'])}",
            # traced runs compare warm untraced and traced passes
            f"warmup={max(w['warmup'], trace)}", f"max_passes={w['max_passes']}",
            f"fixture={os.path.join(ROOT, 'src', 'test', 'resources', 'omim')}"])
    # spark.local.dir (inside the checkout) must not be overridden
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    with open(os.path.join(out, "harness.log"), "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env, cwd=out)
        try:
            rc = p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail(f"harness overran the run limit; log: {out}/harness.log", 4)
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(os.path.join(out, "harness.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness exited with {rc}", 4)
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


def oracle_check(data, dump_dir, names):
    """tools/verify_local.py over the results in graft.Verify's layout; name -> passed."""
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "verify_local.py"),
                        data, dump_dir, "30"], stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=120)
    status = {}
    for line in p.stdout.splitlines():
        s = line.strip()
        if s[:1] in ("✓", "✗", "~"):
            status[s[2:].split(":", 1)[0]] = s[0] == "✓"
    log(next((l for l in p.stdout.splitlines() if l.startswith("slowest oracles")), "no oracle ran"))
    bad = [n for n in names if not status.get(n, False)]
    if bad:
        log("oracle mismatches: " + ", ".join(bad) + "\n" + p.stdout[-3000:])
    return {n: status.get(n, False) for n in names}


def check(workload, res, data):
    """Names of the operations whose output check failed."""
    w, c = WORKLOADS[workload], res["checks"]
    if w["kind"] == "omim":
        with open(os.path.join(data, "expected.json")) as f:
            want = json.load(f)
        rel = c["releases"]
        keys = ("morbidmap_protected_added_rows", "mim2gene_protected_added_rows")
        ok = (c["fixture_triples"] == FIXTURE_TRIPLES and c["fixture_digest"] == FIXTURE_DIGEST
              # a repeat check only where a run makes several releases (traced)
              and len({r["triples"] for r in rel}) == 1 and rel[0]["triples"] > 0
              and all(r[k] == want[k] for r in rel for k in keys))
        if not ok:
            log(f"release check failed: {json.dumps(c)} expected {json.dumps(want)}")
        return set() if ok else {"release"}
    last = max(x["pass"] for x in res["samples"])
    threw = {x["op"] for x in res["samples"] if x["pass"] == last and not x["ok"]}
    passed = oracle_check(data, c["results_dir"], [q for q in w["queries"] if q not in threw])
    return {n for n, ok in passed.items() if not ok} | threw


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops and reaps the JVM (see run_harness)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start = time.time()
    for need in ("build.sbt", "src/main/scala/graft/pipeline/BuildGraph.scala",
                 "src/test/resources/omim/mimTitles.txt", "tools/verify_local.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"not a graft checkout: {need} is missing under {ROOT}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    cp = build()
    t_run = time.time()
    t0 = time.time()
    data = make_inputs(a.workload, a.seed)
    gen_s = time.time() - t0
    out = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    try:
        res = run_harness(cp, a.workload, data, a.seconds, a.trace, out, t_run + RUN_LIMIT_S)
        t_checks = time.time()
        bad = check(a.workload, res, data)
        if a.trace:
            tdir = os.path.join(WORK, "trace", a.workload)
            os.makedirs(tdir, exist_ok=True)
            shutil.copy(os.path.join(out, "spans.jsonl"), tdir)
    finally:
        shutil.rmtree(out, ignore_errors=True)

    for e in res["errors"]:
        log(f"operation failed: {e}")
    samples = res["samples"]
    attempted = len(samples)
    failed = sum(1 for s in samples if not s["ok"] or s["op"] in bad)
    untraced = [s for s in samples if not s["traced"]]
    walls = [p["wall_s"] for p in res["passes"] if not p["traced"]]
    calib = (res["calib_before_s"] + res["calib_after_s"]) / 2
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    log(f"{a.workload} seed={a.seed}: {attempted} ops in {len(res['passes'])} passes, "
        f"failed={failed} failed_frac={failed / attempted:.4f}, inputs generated in {gen_s:.1f}s, "
        f"host.calib_s before={res['calib_before_s']:.4f} after={res['calib_after_s']:.4f}, "
        f"pass walls {['%.2f' % p['wall_s'] for p in res['passes']]}, "
        f"setup runs {['%.3f' % x for x in res['setup_s']]}, "
        f"warm-up {res['phase_s']['warmup']:.1f}s, timed {res['phase_s']['timed']:.1f}s, checks {res['phase_s']['checks']:.1f}s in the JVM "
        f"+ {time.time() - t_checks:.1f}s after, total {time.time() - t_start:.1f}s; slowest ops: "
        + ", ".join(f"{x['op']}={x['secs']:.2f}s" for x in sorted(samples, key=lambda x: -x["secs"])[:4]))

    if a.trace == 0:
        values = {
            "wall_s": statistics.median(walls),
            "op_p50_s": statistics.median(s["secs"] for s in untraced),
            "ok_frac": 1 - failed / attempted,
            "setup_s": statistics.median(res["setup_s"]),
        }
        names = [m["name"] for m in spec["end_to_end"]]
    else:
        layers = dict(res["layers"])
        traced_walls = [p["wall_s"] for p in res["passes"] if p["traced"]]
        layers["host.calib_s"] = calib
        layers["trace.overhead_frac"] = statistics.median(traced_walls) / statistics.median(walls) - 1
        names = [m["name"] for m in spec["per_layer"]]
        # a layer the workload never calls reads 0
        values = {k: layers.get(k, 0.0) for k in names}
        table = res["layer_table"]
        with open(os.path.join(WORK, "trace", a.workload, "layers.tsv"), "w") as f:
            f.write("layer\tspans_per_pass\ttotal_s\tself_s\n")
            for r in table:
                f.write(f"{r['layer']}\t{r['spans']}\t{r['total_s']:.4f}\t{r['self_s']:.4f}\n")
        print(f"per-layer self time, {a.workload} (per traced pass):")
        for r in table:
            print(f"  {r['layer']:<16} spans={r['spans']:<5} total={r['total_s']:.4f}s "
                  f"self={r['self_s']:.4f}s")
    for k in names:
        print(f"{k} = {values[k]} {units[k]}")
    print(json.dumps({
        "correct": not bad and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in names},
    }))


if __name__ == "__main__":
    main()
