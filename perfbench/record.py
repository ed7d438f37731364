#!/usr/bin/env python3
"""Records the expected checksums of a query workload.

    python3 perfbench/record.py kql_interactive

Reads the query names from queries/<workload>.txt (first column), runs
graft.Verify on the committed corpus for those queries, compares every
output with the DuckDB oracle through tools/check.py (needs a python3
with duckdb and pyarrow), and only if all of them match writes
queries/<workload>.txt back with each query's oracle-confirmed checksum:
the checksum of the verified parquet output, which must equal the
checksum of a direct run of the query.
"""
import re
import shutil
import subprocess
import sys

import build
import run


def main(workload):
    qfile = run.HERE / "queries" / f"{workload}.txt"
    names = [l.split()[0] for l in qfile.read_text().splitlines() if l.strip()]
    classes = build.build()
    work = build.BUILD_DIR / "record" / workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    verify_out = work / "verify"

    def jvm(main_class, *args):
        cp = f"{classes}:{build.spark_jars() / '*'}"
        subprocess.run(["java", *run.JVM_OPTS, f"-Djava.io.tmpdir={work}", "-cp", cp,
                        main_class, *args], check=True, cwd=work)

    jvm("graft.Verify", str(run.CORPUS), str(verify_out), ",".join(names))
    res = subprocess.run([sys.executable, str(build.ROOT / "tools" / "check.py"),
                          str(run.CORPUS), str(verify_out)],
                         stdout=subprocess.PIPE, text=True)
    ok = set(re.findall(r"^ok\s+(\S+) \(\d+ rows\)$", res.stdout, re.M))
    print("\n".join(l for l in res.stdout.splitlines() if l.split()[1:2] and
                    l.split()[1].rstrip(":") in names))
    bad = [n for n in names if n not in ok]
    if bad:
        sys.exit(f"not oracle-confirmed, nothing written: {bad}")
    out = work / "checksums.txt"
    jvm("perfbench.PerfBench", "record", str(run.CORPUS), str(verify_out), ",".join(names), str(out))
    qfile.write_text(out.read_text())
    shutil.rmtree(work, ignore_errors=True)
    print(f"wrote {qfile}")


if __name__ == "__main__":
    main(sys.argv[1])
