"""Self-test of the benchmark's judge: a corrupted reply counts as an error.

    python3 perfbench/selftest.py

Run from the repository root. Builds a small seeded grid, computes the
expected answers of every request kind (/run and /multi) with DuckDB, and feeds the judge (``workloads.reply_ok`` and
``run.phase_metrics``, the code every benchmark run uses) the exact
answers and then corrupted copies of them: one value changed, one key
dropped, a non-200 status, a body that is not JSON. Also checks that a
registry result with one changed value no longer matches its oracle
hash. Needs no Spark; exits 1 on the first judge that lets a corrupted
reply through.
"""

from __future__ import annotations

import copy
import json
import os
import shutil
import sys


def corruptions(answer):
    """Copies of ``answer`` with one number changed and with one key dropped."""
    def first_number_path(obj, path=()):
        if isinstance(obj, dict):
            items = obj.items()
        elif isinstance(obj, list):
            items = enumerate(obj)
        else:
            return path if isinstance(obj, (int, float)) and not isinstance(obj, bool) else None
        for k, v in items:
            found = first_number_path(v, path + (k,))
            if found is not None:
                return found
        return None

    out = []
    path = first_number_path(answer)
    if path:
        bumped = copy.deepcopy(answer)
        node = bumped
        for k in path[:-1]:
            node = node[k]
        node[path[-1]] = node[path[-1]] + 1
        out.append(("value changed", bumped))
    if isinstance(answer, dict) and answer:
        dropped = copy.deepcopy(answer)
        dropped.pop(next(iter(dropped)))
        out.append(("key dropped", dropped))
    return out


def main() -> int:
    root = os.getcwd()
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:0] = [root, os.path.join(root, "tools"), here]
    import pandas as pd

    import datagen
    import workloads as wl
    from run import phase_metrics
    from selfcheck import _hash

    work = os.path.join(root, ".perfbench", f"selftest-{os.getpid()}")
    try:
        datagen.generate(work, seed=5, n_orders=1100, n_lineitem=4096)
        con = wl.open_oracle(work, wl.CATALOG_LAYERS)
        grid = wl.grid_size(con)
        failures = 0
        records = []
        for spec in wl.run_pool(5, grid, len(wl.RUN_KINDS)):
            answer = wl.expected(con, spec)
            want = wl.canon(answer)
            # a reply is the engine's JSON: round-trip the raw answer
            good = json.dumps(answer).encode()
            checks = [("exact reply", 200, good, True), ("status 500", 500, good, False),
                      ("not JSON", 200, b"<html>", False)]
            checks += [(name, 200, json.dumps(bad).encode(), False) for name, bad in corruptions(answer)]
            for name, status, body, want_ok in checks:
                ok = wl.reply_ok(status, body, want)
                if ok != want_ok:
                    failures += 1
                    print(f"FAIL {spec['kind']}: {name} judged {'correct' if ok else 'wrong'}")
                records.append({"ok": ok, "t_send": 0.0, "t_recv": 1.0})
        con.close()
        m = phase_metrics(records, 1)
        bad_ops = sum(1 for r in records if not r["ok"])
        if bad_ops == 0 or abs(m["error_share"] * m["ops"] - bad_ops) > 1e-9:
            failures += 1
            print(f"FAIL error_share {m['error_share']} does not count {bad_ops} bad ops")

        frame = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, 2.0]})
        shuffled = frame.iloc[::-1].reset_index(drop=True)
        changed = frame.assign(v=[0.5, 1.25, 2.5])
        if _hash(frame) != _hash(shuffled) or _hash(frame) == _hash(changed):
            failures += 1
            print("FAIL registry hash: order must not matter and a changed value must")
        print(f"selftest: {len(records)} judged replies, error_share {m['error_share']:.3f}, "
              f"{failures} failures")
        return 1 if failures else 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
