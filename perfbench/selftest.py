"""Self-test of the benchmark's output checks: corrupted results must be
flagged, harmless differences must not.

    python3 perfbench/selftest.py

Needs DuckDB and pyarrow only (no Spark). Exits 1 on the first check
that fails to flag a corruption.
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.getcwd())

from perfbench import checks, gen  # noqa: E402
from perfbench.trace import partition  # noqa: E402


def _expect(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")
    print(f"ok  {what}")


def main() -> None:
    with tempfile.TemporaryDirectory(dir=os.getcwd(), prefix=".perfbench-selftest-") as d:
        gen.write_corpus(5, 0.001, d)
        duck = checks.Duck()
        duck.register_dir(d, gen.TABLES)
        sql = ("SELECT o_orderpriority, COUNT(*) AS n, SUM(o_totalprice) AS s "
               "FROM orders GROUP BY 1")
        want = duck.result(sql)
        rows = [tuple(r) for r in duck.rows(sql)]
        cols = ["o_orderpriority", "n", "s"]
        duck.close()

    _expect(checks.Result(cols, rows) == want, "identical result passes")
    _expect(checks.Result(list(reversed(cols)), [r[::-1] for r in reversed(rows)]) == want,
            "column and row order do not matter")
    noisy = [(p, n, s * (1 + 1e-12)) for p, n, s in rows]
    _expect(checks.Result(cols, noisy) == want, "last-bit float noise passes")
    changed = [(p, n, s * 1.001) if i == 0 else (p, n, s) for i, (p, n, s) in enumerate(rows)]
    _expect(checks.Result(cols, changed) != want, "a changed double is flagged")
    _expect(checks.Result(cols, [(p, n + 1, s) for p, n, s in rows[:1]] + rows[1:]) != want,
            "a changed count is flagged")
    _expect(checks.Result(cols, rows[1:]) != want, "a missing row is flagged")
    _expect(checks.Result(cols, rows + rows[:1]) != want, "a duplicated row is flagged")
    _expect(checks.Result(cols[:2] + ["total"], rows) != want, "a renamed column is flagged")

    versions = {1: 2, 2: 1}
    _expect(checks.scd2_problems([(1, 2, 1), (2, 1, 0)], versions) == "",
            "a valid SCD2 history passes")
    _expect(checks.scd2_problems([(1, 2, 0), (2, 1, 0)], versions) != "",
            "two current versions of one key are flagged")
    _expect(checks.scd2_problems([(1, 2, 2), (2, 1, 0)], versions) != "",
            "a key with no current version is flagged")
    _expect(checks.scd2_problems([(1, 1, 0), (2, 1, 0)], versions) != "",
            "a lost version is flagged")
    _expect(checks.scd2_problems([(1, 2, 1), (2, 1, 0), (3, 1, 0)], versions) != "",
            "an unexpected key is flagged")
    # two threads: an op with an action whose job starts after 1 s of
    # planning, and a model run overlapping it; the scheduler span
    # counts only while neither thread has work
    def span(thread, layer, start, end, depth, name="", op=None):
        return {"thread": thread, "layer": layer, "start": start, "end": end,
                "depth": depth, "name": name, "op": op}

    spans = [
        span(1, "op", 0.0, 4.0, 0, op="a"), span(1, "spark.idle", 1.0, 4.0, 1, "action", "a"),
        span(2, "runner.run_model", 2.0, 5.0, 0, op="b"), span(3, "project", 0.0, 6.0, 0),
    ]
    jobs = {0: {"op": "a", "start": 2.0, "end": 3.0}}
    got = partition(spans, jobs, [(0.0, 7.0)])
    want = {"op": 1.0, "catalyst.plan": 1.0, "spark.job": 0.5, "spark.idle": 0.5,
            "runner.run_model": 2.0, "project": 1.0, "unattributed": 1.0}
    _expect(all(abs(got[k] - want.get(k, 0.0)) < 1e-9 for k in got)
            and abs(sum(got.values()) - 7.0) < 1e-9,
            "self times partition the traced wall time")
    print("selftest passed")


if __name__ == "__main__":
    main()
