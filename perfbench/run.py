"""graft benchmark: one run of one workload.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <hom_bulk|hom_importers|suite_mix>
      --seed <n> --seconds <s> --trace <0|1>

Builds the program from source into the build directory ($CARGO_TARGET_DIR
or .bench_build), generates the workload's inputs from the seed, runs
graftbench.Main in one pinned JVM, checks every op's output and prints,
as the last line of stdout, one JSON object with the keys correct,
attempted, failed and metrics: the end-to-end metrics with --trace 0,
the per-layer metrics with --trace 1. Logs and the per-run trace file
stay in the build directory. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("hom_bulk", "hom_importers", "suite_mix")
CORES = 4
HEAP = "2g"
SUITE_DATA_SEED = 42
JAVA_TIMEOUT_S = 165

# the --add-opens list build.sbt gives forked JVMs: Spark on JDK 17 needs it
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def bench_spec() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def canon(df) -> str:
    """Canonical value hash, the form tools/check_correctness.py uses:
    columns sorted by name, floats %.6f, NULL for missing."""
    import pandas as pd
    df = df[sorted(df.columns)]
    lines = []
    for row in df.itertuples(index=False):
        parts = []
        for v in row:
            if v is None or (isinstance(v, float) and pd.isna(v)):
                parts.append("NULL")
            elif isinstance(v, float):
                parts.append(f"{v:.6f}")
            else:
                parts.append(str(v))
        lines.append("|".join(parts))
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def suite_check(data_dir: str, out_dir: str, cache_file: str) -> dict:
    """Query name -> None when the Spark output hash equals the DuckDB
    oracle's, else the reason. Oracle hashes are cached per SQL text."""
    import duckdb
    import pandas as pd
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    cache = json.load(open(cache_file)) if os.path.exists(cache_file) else {}
    con = None
    verdict = {}
    for name, sql in sorted(oracle.items()):
        key = hashlib.sha256(sql.encode()).hexdigest()
        try:
            if key not in cache:
                if con is None:
                    con = duckdb.connect()
                    for t in ("region", "nation", "customer", "supplier", "part", "orders",
                              "lineitem", "events", "documents", "embeddings"):
                        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
                d = con.execute(sql).fetchdf()
                cache[key] = {"rows": len(d), "cols": sorted(map(str.lower, d.columns)), "hash": canon(d)}
            files = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
            s = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True) if files else None
            exp = cache[key]
            if s is None:
                verdict[name] = "no output"
            elif len(s) != exp["rows"]:
                verdict[name] = f"{len(s)} rows, oracle {exp['rows']}"
            elif sorted(map(str.lower, s.columns)) != exp["cols"]:
                verdict[name] = "columns differ from the oracle's"
            elif canon(s) != exp["hash"]:
                verdict[name] = "value hash differs from the oracle's"
            else:
                verdict[name] = None
        except Exception as e:  # one broken query must not hide the others' verdicts
            verdict[name] = f"check error: {str(e)[:200]}"
    with open(cache_file, "w") as f:
        json.dump(cache, f)
    return verdict


def suite_data(bdir: str) -> str:
    """The suite_mix tables, generated once per build directory."""
    d = os.path.join(bdir, f"suite-data-{SUITE_DATA_SEED}")
    if not os.path.isdir(d):
        subprocess.run([sys.executable, os.path.join(HERE, "gen_suite.py"), d, str(SUITE_DATA_SEED)],
                       check=True)
    return d


def java_cmd(classes: str, bdir: str, main_class: str, args: list) -> tuple:
    """The pinned JVM command line and environment every benchmark JVM uses:
    fixed heap, local[CORES], temp and Spark local dirs inside bdir."""
    tmp = os.path.join(bdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"] + opens +
           ["-cp", classes + ":" + ":".join(build.jars()), main_class] + args)
    return cmd, dict(os.environ, SPARK_GRAFT_CPUS=str(CORES), SPARK_LOCAL_DIRS=tmp)


def run_java(classes: str, bdir: str, a, result: str, log: str, data_dir: str) -> int:
    # generated inputs are cached per build: a changed generator starts afresh
    stamp = open(os.path.join(bdir, "classes.stamp")).read()[:12]
    work = os.path.join(bdir, f"work-{stamp}")
    for old in glob.glob(os.path.join(bdir, "work-*")):
        if old != work:
            shutil.rmtree(old, ignore_errors=True)
    cmd, env = java_cmd(classes, bdir, "graftbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work, "--result", result, "--suite-data", data_dir])
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env, start_new_session=True)
        try:
            return p.wait(timeout=JAVA_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return -1


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec = bench_spec()
    bdir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(bdir, exist_ok=True)
    classes = build.build(bdir)

    data_dir = suite_data(bdir) if a.workload == "suite_mix" else ""

    for d in ("logs", "traces"):
        os.makedirs(os.path.join(bdir, d), exist_ok=True)
    tag = f"{a.workload}-{a.seed}-t{a.trace}"
    result = os.path.join(bdir, "traces", f"{tag}.json")
    log = os.path.join(bdir, "logs", f"{tag}.log")
    if os.path.exists(result):
        os.remove(result)
    rc = run_java(classes, bdir, a, result, log, data_dir)
    if rc != 0 or not os.path.exists(result):
        sys.stderr.write(f"graftbench: java exited {rc}; see {log}\n")
        with open(log) as f:
            sys.stderr.write(f.read()[-3000:])
        return 1
    r = json.load(open(result))

    ops = r["pass"]["ops"]
    bad = {i: o.get("error", "") for i, o in enumerate(ops) if not o["ok"]}
    if a.workload == "suite_mix":
        cache = os.path.join(bdir, f"suite-oracle-{SUITE_DATA_SEED}.json")
        verdict = suite_check(data_dir, r["suite_out"], cache)
        for i, o in enumerate(ops):
            why = verdict.get(o["name"], "no oracle SQL")
            if why is not None:
                bad.setdefault(i, why)
    for i in sorted(bad)[:10]:
        sys.stderr.write(f"graftbench: op {i} {ops[i]['name']} failed: {bad[i]}\n")
    _, p50, p75 = statistics.quantiles([o["s"] for o in ops], n=4)
    attempted, failed = len(ops), len(bad)
    if a.trace:
        # traced ops must pass the same checks and match the untraced outputs
        traced = r["traced"]["ops"]
        for o in traced:
            if not o["ok"]:
                sys.stderr.write(f"graftbench: traced op {o['name']} failed: {o.get('error', '')}\n")
        attempted += len(traced)
        failed += sum(not o["ok"] for o in traced)
    sys.stderr.write(
        f"graftbench: {a.workload} seed={a.seed} ops={attempted} failed={failed} op_p50_s={p50:.4f} "
        f"op_p75_s={p75:.4f} over {len(ops)} timed ops; k={r['cores']} heap=-Xms=-Xmx={HEAP} warmup=1 pass "
        f"ext_cores={r['pass']['ext_cores']:.2f} pass_jit_s={r['pass']['jit_s']:.2f} "
        f"gen_s={r['gen_s']:.2f}; trace file {result}\n")

    if a.trace:
        got = r["traced"]["metrics"]
        metrics = {m["name"]: {"value": got.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
        if a.workload == "suite_mix":
            for q, v in sorted(r["traced"]["per_query"].items()):
                sys.stderr.write(f"graftbench: {q} build_s={v['build_s']:.4f} plan_s={v['plan_s']:.4f} "
                                 f"exec_s={v['exec_s']:.4f}\n")
        for k, v in sorted(got.items()):
            sys.stderr.write(f"graftbench: {k} = {v:.6g}\n")
    else:
        values = {
            "setup_s": r["setup_s"],
            "pass_s": r["pass"]["pass_s"],
            "op_p50_s": p50,
            "op_p75_s": p75,
            "heap_peak_mb": r["pass"]["heap_peak_mb"],
            "op_ok_frac": (attempted - failed) / attempted,
        }
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
