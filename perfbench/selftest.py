"""The benchmark's own test: proves its output checks catch corrupted
outputs. graftbench.SelfTest runs one real hom op, checks it passes, and
feeds seven corruptions of it (wrong IMP_COD, wrong RUT, an unrelated
name matched, CO2 on a BEV row, a row dropped or duplicated, a column
dropped) plus a missing report and a missing output file to HomCheck.
Then this script checks that one suite query's real output matches the
DuckDB oracle, and that the same output with one value changed does not.

Usage (from the root of a checkout): python3 perfbench/selftest.py
Exits 0 when every corruption was caught.
"""
import glob
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402


def main() -> int:
    bdir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(bdir, exist_ok=True)
    classes = build.build(bdir)
    data_dir = run.suite_data(bdir)
    work = os.path.join(bdir, "selftest")
    cmd, env = run.java_cmd(classes, bdir, "graftbench.SelfTest", ["--work", work, "--suite-data", data_dir])
    p = subprocess.run(cmd, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=300)
    print("\n".join(l for l in p.stdout.splitlines() if l.startswith("[selftest]")))
    if p.returncode != 0:
        print(p.stdout[-3000:])
        print("selftest: FAILED in graftbench.SelfTest")
        return 1

    import pandas as pd
    out = os.path.join(work, "suite-selftest")
    cache = os.path.join(work, "oracle-cache.json")
    q = "p130_rfm"
    verdict = run.suite_check(data_dir, out, cache)
    if verdict.get(q) is not None:
        print(f"selftest: FAILED, a correct suite output was rejected: {verdict}")
        return 1
    for f in glob.glob(os.path.join(out, q, "*.parquet")):
        df = pd.read_parquet(f)
        if len(df):
            c = [c for c in df.columns if pd.api.types.is_numeric_dtype(df[c])][0]
            df.loc[df.index[0], c] = df[c].iloc[0] + 1
            df.to_parquet(f)
            break
    verdict = run.suite_check(data_dir, out, cache)
    if verdict.get(q) is None:
        print("selftest: FAILED, a corrupted suite output was accepted")
        return 1
    print(f"[selftest] caught: suite value changed ({verdict[q]})")
    print("selftest: OK")
    return 0


if __name__ == "__main__":
    sys.exit(main())
