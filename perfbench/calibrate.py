"""Re-derives `fingerprints.json` from an oracle-checked run (see
`run.py --calibrate`).

Every query of every workload runs once through the project's own
correctness path: `graft.Verify` writes each result as parquet and
`scripts/check_oracle.py` compares it, row for row, with the DuckDB
oracle (`SparkEntry.oracleSql`). The queries without an oracle must pass
the test suite's bounds instead (`perfbench.Calibrate`). A query's
fingerprint is recorded only if its result passed and the fingerprint
of the checked parquet equals that of a fresh run of the query."""
import json
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

import run


def calibrate(classpath, data, work):
    """Checks every workload query on the tables in `data` and, if all
    pass, rewrites fingerprints.json. Returns the exit code."""
    names = sorted({n for layers in run.WORKLOADS.values()
                    for _, ns in layers for n in ns})
    verify = work / "verify"
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.environ.setdefault("SPARK_GRAFT_CPUS", str(run.cores()))
        # graft.Verify keeps the queries whose name contains a pattern
        code = run.java(classpath, work, ["graft.Verify", str(data), str(verify), ",".join(names)])
        if code != 0:
            print((work / "jvm.log").read_text()[-4000:])
            return 1
        oracle = subprocess.run(
            [sys.executable, str(run.ROOT / "scripts" / "check_oracle.py"), str(data), str(verify)],
            capture_output=True, text=True)
        print(oracle.stdout, end="")
        # "PASS <name> (<n> rows)" or "FAIL <name>: <why>"
        verdicts = {n: v for v, n in re.findall(r"^(PASS|FAIL) (\S+?):?(?: |$)",
                                                oracle.stdout, re.M)}
        plan = {"cores": run.cores(), "work_dir": str(work), "data_dir": str(data),
                "verify_dir": str(verify), "names": names}
        raw = run.run_harness(classpath, plan, work, mode="perfbench.Calibrate")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    fingerprints, checked, failures = {}, {}, {}
    for name in names:
        r = raw[name]
        if "error" in r:
            failures[name] = r["error"]
        elif r["fingerprint"] != r["checked_fingerprint"]:
            failures[name] = (f"fresh result {r['fingerprint']} differs from the checked one "
                              f"{r['checked_fingerprint']}")
        elif name in verdicts:
            if verdicts[name] != "PASS":
                failures[name] = "oracle mismatch (see above)"
        elif r.get("bound") != "ok":
            failures[name] = f"bound check: {r.get('bound', 'no oracle and no bound')}"
        if name not in failures:
            fingerprints[name] = r["fingerprint"]
            checked[name] = "oracle" if name in verdicts else "bound"
    for name, why in sorted(failures.items()):
        print(f"FAIL {name}: {why}")
    print(f"{len(checked)} pass ({sum(v == 'oracle' for v in checked.values())} by oracle), "
          f"{len(failures)} fail")
    if failures:
        return 1
    out = {"checked_by": checked, "queries": fingerprints}
    path = Path(__file__).resolve().parent / "fingerprints.json"
    path.write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    return 0
