#!/usr/bin/env python3
"""Shows that every check of the benchmark refuses a corrupted output.

For each workload it runs one short operation, confirms the checks pass
on the untouched output, then corrupts the output files on disk one way
at a time and confirms the checks refuse each corruption:
  annotate_cold    drop a record; change one row of one catalog result
                   (the traced run's catalog pass, checked by the oracles)
  annotate_deepen  change one record's token count
Exits 0 when every check behaved, 1 otherwise.

Usage (from the repository root): python3 perfbench/selftest.py
"""
import glob
import os
import shutil
import sys

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import run  # noqa: E402

SEED = 7


def _rewrite(path, edit):
    """Apply `edit` to the rows of one Parquet file, keeping its schema."""
    tbl = pq.read_table(path)
    rows = edit(tbl.to_pylist())
    pq.write_table(pa.Table.from_pylist(rows, schema=tbl.schema), path)


def _drop_first(rows):
    return rows[1:]


def _drop_one_token(rows):
    r = rows[0]
    r["labelViews"] = [(k, dict(v, labels=v["labels"][:-1]) if k == "tokens" else v)
                       for k, v in r["labelViews"]]
    return rows


def _change_one_value(rows):
    r = rows[0]
    k = next(c for c, v in r.items() if isinstance(v, (int, float)) and not isinstance(v, bool))
    r[k] += 1
    return rows


def _corruptions(workload, work):
    record = sorted(glob.glob(os.path.join(work, "out", "*", "*.parquet")))[0]
    if workload == "annotate_deepen":
        return [("change one token count", record, _drop_one_token)]
    rows = sorted(glob.glob(os.path.join(work, "results", "q_pagerank", "*.parquet")))
    rows = next(f for f in rows if pq.read_metadata(f).num_rows > 0)
    return [("drop a record", record, _drop_first),
            ("change one oracle row", rows, _change_one_value)]


def main():
    build.ensure_built()
    ok = True
    for workload in run.WORKLOADS:
        work = os.path.join(HERE, ".work", f"selftest-{workload}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        try:
            trace = workload == "annotate_cold"
            expected = run.stage_inputs(workload, SEED, work, trace)
            result = run.run_jvm(workload, work, 0, trace, min_ops=1, warmup_ops=0)
            clean = checks.check(workload, work, expected, result)
            print(f"{workload}: untouched output -> "
                  f"{'passes' if not clean else 'REFUSED: ' + '; '.join(clean)}")
            ok &= not clean
            for name, path, edit in _corruptions(workload, work):
                backup = path + ".orig"
                shutil.copyfile(path, backup)
                _rewrite(path, edit)
                found = checks.check(workload, work, expected, result)
                os.replace(backup, path)
                print(f"{workload}: {name} -> "
                      f"{'refused: ' + found[0] if found else 'NOT REFUSED'}")
                ok &= bool(found)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    print("selftest", "passed" if ok else "FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
