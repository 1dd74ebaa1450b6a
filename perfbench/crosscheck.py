#!/usr/bin/env python3
"""One-off cross-check of the benchmark's expected results against DuckDB.

    python3 perfbench/crosscheck.py [--freeze]

Dumps every pool member that carries oracle SQL with graft.Verify at the
benchmark's data scale, then compares each dump with the DuckDB result of
its oracle SQL using tools/local_compare.py. It then folds the benchmark's
checksum over both results (perfbench.OracleChecksums) and compares each
with expected.json: graft's dump must give the expected checksum, and so
must the oracle's result unless graft's result is wrong. With --freeze, a
query whose oracle checksum differs gets it as its expected checksum and is
listed under "oracle_corrected" in expected.json, so graft's wrong result
fails the check (run.py --names) until it is fixed; select_pools.py then
draws no pass member from that list. Work files go under the build
directory.
"""
import json
import shutil
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
import build  # noqa: E402
import run  # noqa: E402

TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()


def java_cmd(classes, tmp):
    opens = [x for o in run.ADD_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")]
    return [build.java(), "-Xmx4g", "-XX:-UsePerfData", *opens, f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.sql.warehouse.dir={tmp / 'warehouse'}",
            f"-Dderby.system.home={tmp / 'derby'}",
            "-cp", f"{classes}:{build.spark_jars() / '*'}"]


def oracle_results(names, oracles, dest):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{run.DATA / t}.parquet'")
    dest.mkdir(parents=True)
    for n in names:
        con.sql(oracles[n]).write_parquet(str(dest / f"{n}.parquet"))


def main():
    freeze = "--freeze" in sys.argv[1:]
    classes = build.build()
    pools = json.loads((run.HERE / "pools.json").read_text())
    names = sorted({n for w in pools["workloads"].values() for n in w["pool"]})
    out = build.build_dir() / "crosscheck"
    shutil.rmtree(out, ignore_errors=True)
    tmp = out / "tmp"
    tmp.mkdir(parents=True)
    subprocess.run(java_cmd(classes, tmp) + [
        "graft.Verify", str(run.DATA), str(out / "dump"), ",".join(names)],
        check=True, cwd=tmp)
    oracles = json.loads((out / "dump" / "oracle_sql.json").read_text())
    checked = [n for n in names if n in oracles]
    print(f"crosscheck: {len(checked)} of {len(names)} pool members carry oracle SQL")
    compare = subprocess.run([sys.executable, str(build.ROOT / "tools" / "local_compare.py"),
                              str(run.DATA), str(out / "dump"), ",".join(checked)])

    oracle_results(checked, oracles, out / "oracle")
    plan = out / "checksums.tsv"
    plan.write_text("".join(f"{n}\t{out / 'dump' / n}\t{out / 'oracle' / n}.parquet\n"
                            for n in checked))
    subprocess.run(java_cmd(classes, tmp) + [
        "perfbench.OracleChecksums", str(plan), str(out / "checksums.jsonl")],
        check=True, cwd=tmp)
    doc = json.loads((run.HERE / "expected.json").read_text())
    expected = doc["queries"]
    corrected = {}
    for line in (out / "checksums.jsonl").read_text().splitlines():
        r = json.loads(line)
        n, want = r["name"], expected.get(r["name"])
        if r["graft"] != want:
            print(f"crosscheck: {n}: the Verify dump's checksum {r['graft']} "
                  f"is not the expected {want}")
        if r["oracle"] != want:
            print(f"crosscheck: {n}: oracle checksum {r['oracle']}, expected {want}")
            corrected[n] = r["oracle"]
    print(f"crosscheck: {len(corrected)} oracle checksums differ from expected.json")
    if freeze and corrected:
        expected.update(corrected)
        doc["oracle_corrected"] = sorted(set(doc.get("oracle_corrected", [])) | set(corrected))
        (run.HERE / "expected.json").write_text(
            json.dumps(doc, indent=0, sort_keys=True) + "\n")
    sys.exit(compare.returncode)


if __name__ == "__main__":
    main()
