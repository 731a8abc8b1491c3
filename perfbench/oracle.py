#!/usr/bin/env python3
"""Regenerates perfbench/expected.tsv, the checks of `headline` and `barriers`.

    python3 perfbench/oracle.py

Run from the root of the repository. The benchmark JVM runs each query
once and writes its output, its row count and digest, and its DuckDB
oracle SQL. Each output is then compared with the oracle's result over
the same sf0.1 tables: columns sorted by name, rows sorted, values exact.
Only if every query matches are the row counts and digests written to
expected.tsv, which the benchmark compares every timed operation with.
"""
import glob
import os
import shutil
import subprocess
import sys
import time

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pyarrow.types as pt

import run

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def rows(tbl, cols):
    def norm(v):
        return "NaN" if isinstance(v, float) and v != v else v
    return sorted((tuple(norm(v) for v in r) for r in zip(*[tbl.column(c).to_pylist() for c in cols])),
                  key=repr)


def type_class(t):
    if t in (pa.large_string(), pa.string()):
        return "string"
    return "int" if pt.is_integer(t) else str(t)


def compare(name, spark_tbl, duck_tbl):
    cols = sorted(spark_tbl.column_names)
    if cols != sorted(duck_tbl.column_names):
        return f"columns differ: {cols} vs {sorted(duck_tbl.column_names)}"
    bad = [c for c in cols if type_class(spark_tbl.schema.field(c).type) !=
           type_class(duck_tbl.schema.field(c).type)]
    if bad:
        return f"column types differ: {bad}"
    s, d = rows(spark_tbl, cols), rows(duck_tbl, cols)
    if len(s) != len(d):
        return f"row counts differ: {len(s)} vs {len(d)}"
    diff = sum(1 for a, b in zip(s, d) if a != b)
    return f"{diff} rows differ" if diff else None


def main():
    root = os.getcwd()
    launch = run.build(root, run.source_digest(root))
    opts, cp = [], []
    for line in open(launch).read().splitlines():
        kind, _, value = line.partition(" ")
        (opts if kind == "opt" else cp).append(value)
    tmp = os.path.join(root, ".perfbench_tmp", f"oracle-{os.getpid()}")
    out = os.path.join(tmp, "out")
    os.makedirs(os.path.join(tmp, "java"))
    try:
        cmd = ["java"] + opts + [
            f"-Djava.io.tmpdir={tmp}/java", f"-Dspark.local.dir={tmp}/local",
            f"-Dspark.sql.warehouse.dir={tmp}/warehouse", "-cp", os.pathsep.join(cp),
            "perfbench.Main", "--workload", "headline", "--seed", "0", "--seconds", "0",
            "--trace", "0", "--data", run.DATA, "--tmp", tmp, "--out", tmp,
            "--launch-ms", str(int(time.time() * 1000)), "--cores", str(run.cores()), "--dump", out]
        r = subprocess.run(cmd, capture_output=True, text=True)
        if r.returncode != 0:
            sys.exit(f"dump failed:\n{r.stdout[-3000:]}{r.stderr[-3000:]}")
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{run.DATA}/{t}.parquet'")
        lines, failures = [], 0
        for line in open(os.path.join(out, "digests.tsv")).read().splitlines():
            name = line.split("\t")[0]
            spark_tbl = pa.concat_tables(
                [pq.read_table(f) for f in sorted(glob.glob(f"{out}/{name}/*.parquet"))])
            sql_path = os.path.join(out, f"{name}.sql")
            if not os.path.exists(sql_path):
                print(f"FAIL  {name}: no oracle SQL")
                failures += 1
                continue
            err = compare(name, spark_tbl, con.sql(open(sql_path).read()).arrow())
            print(f"{'FAIL' if err else 'PASS'}  {name}: {err or f'{spark_tbl.num_rows} rows'}")
            failures += bool(err)
            lines.append(line)
        if failures:
            sys.exit(f"{failures} queries differ from the oracle; {run.EXPECTED} left unchanged")
        with open(run.EXPECTED, "w") as f:
            f.write("# query\trows\tdigest (wrapping sum of xxhash64 per row); "
                    "written by perfbench/oracle.py after a DuckDB oracle match at sf0.1\n")
            f.write("\n".join(lines) + "\n")
        print(f"wrote {run.EXPECTED}")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass


if __name__ == "__main__":
    main()
