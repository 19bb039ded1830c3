"""Cross-check the pinned results against the DuckDB oracle.

Dumps the dashboard views and heavy queries over the benchmark's input
tables with the program's own `graft.Verify` (restricted to those names),
then compares each dump with `SparkEntry.oracleSql` run in DuckDB, using the
repository's `tools/selfcheck.py`. Run it from the root of a checkout after
re-pinning `expected.txt`:

    python3 perfbench/crosscheck.py
"""
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import run  # noqa: E402


def main():
    root = os.getcwd()
    cp = build.build(root)
    data = run.ensure_data(root)
    names = sorted({line.split()[0].split(".", 1)[1]
                    for line in open(os.path.join(HERE, "expected.txt"))
                    if line.strip() and not line.startswith("#")})
    out = os.path.join(root, build.OUT, "crosscheck")
    shutil.rmtree(out, ignore_errors=True)
    opens = [x for p in run.ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    p = subprocess.Popen(["java"] + opens + ["-Xmx3g", "-XX:ReservedCodeCacheSize=1g", "-cp", cp,
                                             "graft.Verify", data, out] + names)
    code = p.wait()
    if code == 0:
        code = subprocess.run([sys.executable, os.path.join(root, "tools", "selfcheck.py"),
                               data, out]).returncode
    run.scrub(p.pid, out)
    raise SystemExit(code)


if __name__ == "__main__":
    main()
