"""The benchmark's workloads.

Each workload starts sessions the way the CLI does (``get_spark`` with
default settings and a private warehouse), registers its generated
sources, and then runs closed-loop passes: an op starts only when the
previous one has returned. ``query_mix`` runs ad-hoc queries and
Snowflake-dialect session/DML statements from one thread;
``project_run`` runs a dbt-style project through ``ProjectRunner`` at
threads=nproc.
"""

from __future__ import annotations

import os
import random
import sqlite3
import time
from contextlib import nullcontext

from perfbench import checks, gen

# bench.py's headline corpus queries, less s01_sessionize: its
# sessionize_batch splits sessions on whole-second unix_timestamp
# differences where the oracle compares exact intervals, so on about one
# seed in eight a gap just over the limit that spans a second boundary
# gives one session fewer than the oracle. Every op here has to pass.
BENCH_QUERIES = (
    "q01_pricing_summary", "q02_top1_per_group", "q03_shipping_priority",
    "q04_region_volume", "q05_order_priority", "q08_rollup", "q12_json_extract",
    "q22_having", "q25_cte_decile", "q28_merge_semantics", "x01_dedup_exact",
    "x02_minhash_lsh", "x04_ngram_jaccard", "x05_embedding_neardup",
    "x06_ann_topk", "x09_token_stats", "x10_fingerprint", "x14_dedup_clusters",
    "x28_incremental_dedup", "x38_semantic_dedup",
    "x57_corpus_pipeline", "q63_merge_statement", "x61_match_recognize",
    "x59_jpeg_stats", "q91_compress_roundtrip", "x69_pattern_anchors_permute",
    "x71_mr_composability", "x74_mr_final_all_rows",
)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


class Op:
    __slots__ = ("name", "pass_no", "start", "end", "ok", "error")

    def __init__(self, name, pass_no, start, end, ok=True, error=""):
        self.name, self.pass_no = name, pass_no
        self.start, self.end, self.ok, self.error = start, end, ok, error

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Workload:
    name = ""
    sf = 0.01  # generated inputs: ~60k lineitem rows, 15k orders

    def __init__(self, seed: int, work: str, nproc: int):
        self.seed = seed
        self.work = work
        self.nproc = nproc
        self.data = os.path.join(work, "data")
        self.warehouse = os.path.join(work, "wh")
        self.spark = None
        self.ops: list[Op] = []
        self.failures: list[str] = []
        self.pass_cpu: list[dict] = []
        self.tracer = None

    # session lifecycle ----------------------------------------------
    def start_session(self):
        from dbt_icebreaker_spark.session import get_spark

        self.spark = get_spark(app_name=f"perfbench-{self.name}",
                               warehouse_dir=self.warehouse)
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def warm_up(self) -> None:
        """bench.py's generic warm-up shapes (scan/agg, shuffle join,
        window), not the workload's own ops."""
        for sql in (
            "SELECT COUNT(*) FROM lineitem",
            "SELECT o_orderpriority, COUNT(*), SUM(l_quantity) FROM orders "
            "JOIN lineitem ON o_orderkey = l_orderkey GROUP BY o_orderpriority",
            "SELECT * FROM (SELECT o_orderkey, ROW_NUMBER() OVER (PARTITION BY "
            "o_orderkey % 7 ORDER BY o_orderkey) rn FROM orders) WHERE rn = 1",
        ):
            self.spark.sql(sql).collect()

    # hooks -------------------------------------------------------------
    def make_inputs(self) -> None:
        raise NotImplementedError

    def register(self) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        """One-time work after the last setup that counts in setup_s."""

    def expect(self) -> None:
        """Expected results, computed outside every timed region."""

    def run_pass(self, pass_no: int) -> float:
        """One pass; returns its wall time without output checking."""
        raise NotImplementedError

    def verify(self) -> None:
        """End-of-run output checks."""

    def stored_bytes(self) -> int:
        return dir_bytes(self.warehouse)

    def fail(self, what: str) -> None:
        self.failures.append(what)


# ----------------------------------------------------------------------
class QueryMix(Workload):
    """bench.py's corpus queries (all but s01_sessionize) plus a seeded stream of Snowflake
    session/DML statements (SET/$var, INSERT, UPDATE, DELETE, MERGE,
    EXECUTE IMMEDIATE) through ``IcebreakerEngine.execute``. Every
    result is collected and compared with its expectation."""

    name = "query_mix"

    def make_inputs(self) -> None:
        gen.write_corpus(self.seed, self.sf, self.data, files=2)

    def register(self) -> None:
        from dbt_icebreaker_spark.runner import IcebreakerEngine
        from dbt_icebreaker_spark.sources import register_dir

        register_dir(self.spark, self.data)
        self.engine = IcebreakerEngine(self.spark, schema="chat")

    def prepare(self) -> None:
        self.engine.execute("CREATE OR REPLACE TABLE chat.kv (k INT, v INT)")
        self.kv: dict[int, int] = {}
        self.next_key = 0

    def expect(self) -> None:
        from dbt_icebreaker_spark import queries as corpus

        self.fns = corpus.queries()
        oracles = corpus.oracle_sql()
        self.duck = checks.Duck()
        self.duck.register_dir(self.data, gen.TABLES)
        self.oracle = {q: oracles[q] for q in BENCH_QUERIES}
        self.expected = {q: self.duck.result(self.oracle[q]) for q in BENCH_QUERIES}
        self.n_orders = self.duck.rows("SELECT COUNT(*) FROM orders")[0][0]
        self.dtype_checked: set[str] = set()

    # seeded chatter -----------------------------------------------------
    def chatter(self, rng: random.Random) -> list[tuple[str, str, object]]:
        """(op name, statement, expected) for one pass, simulating the
        kv table in Python. ``expected`` is a ``checks.Result``, a
        rows-affected count, or None (the statement has to succeed)."""
        kv = self.kv
        out = []
        lo = rng.randrange(0, self.n_orders // 2)
        hi = lo + rng.randrange(100, self.n_orders // 4)
        out.append(("chat.set", f"SET lo = {lo}", None))
        out.append(("chat.set", f"SET hi = {hi}", None))
        out.append((
            "chat.var_select",
            "SELECT COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS s FROM orders "
            "WHERE o_orderkey BETWEEN $lo AND $hi",
            self.duck.result(
                "SELECT COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS s FROM orders "
                f"WHERE o_orderkey BETWEEN {lo} AND {hi}"),
        ))
        rows = []
        for _ in range(5):
            k, v = self.next_key, rng.randrange(1000)
            self.next_key += 1
            kv[k] = v
            rows.append(f"({k}, {v})")
        out.append(("chat.insert", "INSERT INTO chat.kv VALUES " + ", ".join(rows), None))
        m, d = rng.randrange(2, 5), rng.randrange(1, 50)
        r = rng.randrange(m)
        hit = [k for k in kv if k % m == r]
        for k in hit:
            kv[k] += d
        out.append(("chat.update", f"UPDATE chat.kv SET v = v + {d} WHERE k % {m} = {r}",
                    len(hit)))
        m2 = rng.randrange(5, 9)
        r2 = rng.randrange(m2)
        gone = [k for k in kv if k % m2 == r2]
        for k in gone:
            del kv[k]
        out.append(("chat.delete", f"DELETE FROM chat.kv WHERE k % {m2} = {r2}", len(gone)))
        src = [(k, rng.randrange(1000)) for k in rng.sample(sorted(kv), min(2, len(kv)))]
        for _ in range(2):
            src.append((self.next_key, rng.randrange(1000)))
            self.next_key += 1
        kv.update(src)
        using = " UNION ALL ".join(f"SELECT {k} AS k, {v} AS v" for k, v in src)
        out.append((
            "chat.merge",
            f"MERGE INTO chat.kv t USING ({using}) s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET v = s.v "
            "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)",
            None,
        ))
        out.append((
            "chat.execute_immediate",
            "EXECUTE IMMEDIATE 'SELECT COUNT(*) AS n, SUM(v) AS s FROM chat.kv'",
            checks.Result(["n", "s"], [(len(kv), sum(kv.values()))]),
        ))
        out.append(("chat.select", "SELECT k, v FROM chat.kv",
                    checks.Result(["k", "v"], list(kv.items()))))
        return out

    def run_pass(self, pass_no: int) -> float:
        # bench.py's query order, so each query's first-run cost lands
        # on the same query in every run; the chatter is spread evenly
        chat = self.chatter(random.Random(self.seed * 1000 + pass_no))
        after: dict[int, list[tuple]] = {}
        for j, stmt in enumerate(chat):
            after.setdefault((j + 1) * len(BENCH_QUERIES) // len(chat) - 1, []).append(stmt)
        plan: list[tuple] = []
        for i, name in enumerate(BENCH_QUERIES):
            plan.append((name, None, None))
            plan.extend(after.get(i, []))
        checking = 0.0
        t0 = time.time()
        for name, stmt, expected in plan:
            op_id = f"{name}#{pass_no}.{len(self.ops)}"
            start = time.time()
            err = ""
            df = rows = None
            try:
                with self._op(op_id, name):
                    with self._span("build", "catalyst.analyze"):
                        if stmt is None:
                            df = self.fns[name](self.spark, self.data)
                        else:
                            df = self.engine.execute(stmt)
                    with self._span("action", "spark.idle"):
                        rows = df.collect()
            except Exception as exc:  # an op that raises is a failed op
                err = f"{type(exc).__name__}: {str(exc)[:200]}"
            end = time.time()
            if not err:
                err = self._check(name, stmt, expected, df, rows)
            checking += time.time() - end
            self.ops.append(Op(name, pass_no, start, end, not err, err))
            if err:
                self.fail(f"{name}: {err}")
        return time.time() - t0 - checking

    def _check(self, name, stmt, expected, df, rows) -> str:
        if stmt is None:
            if name not in self.dtype_checked:
                self.dtype_checked.add(name)
                problems = checks.dtype_problems(self.duck, self.oracle[name], df)
                if problems:
                    return f"dtype parity: {problems}"
            got, want = checks.spark_result(df, rows), self.expected[name]
        elif isinstance(expected, int):
            got = rows[0]["rows_affected"] if rows else None
            return "" if got == expected else f"rows_affected {got} != {expected}"
        elif expected is not None:
            got, want = checks.spark_result(df, rows), expected
        else:
            return ""
        return "" if got == want else f"output differs: {got.first_diff(want)}"

    def _op(self, op_id, name):
        return self.tracer.op(op_id, name) if self.tracer else nullcontext()

    def _span(self, name, layer):
        return self.tracer.span(name, layer) if self.tracer else nullcontext()

    def stored_bytes(self) -> int:
        # q63's MERGE target lives under the temp dir it creates
        return dir_bytes(self.warehouse) + dir_bytes(os.path.join(self.work, "tmp"))


# ----------------------------------------------------------------------
class ProjectRun(Workload):
    """A ~20-model dbt-style project (staging tables and views, merge /
    delete+insert / append incrementals, two snapshots, marts) loaded
    with ``load_project``. Set-up builds it once with full refresh;
    every pass first lands one seeded batch (~1% changed and ~1% new
    keys, outside the timed region) and then runs the whole project at
    threads=nproc: tables rebuild, incrementals merge the batch,
    snapshots record the changes."""

    name = "project_run"
    schema = "proj"

    def make_inputs(self) -> None:
        import pyarrow.parquet as pq

        self.pdata = gen.ProjectData(self.seed, self.sf, self.data)
        self.sources = {}
        for name, table in self.pdata.static_tables().items():
            path = os.path.join(self.data, name)
            os.makedirs(path, exist_ok=True)
            pq.write_table(table, os.path.join(path, "part-00000.parquet"))
            self.sources[name] = path
        for kind in ("raw", "landing"):
            for src in gen.PROJECT_SOURCES:
                self.sources[f"{kind}_{src}"] = self.pdata.path(kind, src)
        self.models_dir = os.path.join(os.path.dirname(__file__), "project", "models")

    def register(self) -> None:
        from dbt_icebreaker_spark.project import ProjectRunner, load_project
        from dbt_icebreaker_spark.runner import IcebreakerEngine

        for name, path in self.sources.items():
            self.spark.sql(f"DROP TABLE IF EXISTS {name}")
            self.spark.sql(f"CREATE TABLE {name} USING parquet LOCATION '{path}'")
        self.models = load_project(self.models_dir, schema=self.schema)
        self.engine = IcebreakerEngine(self.spark, schema=self.schema)
        self.runner = ProjectRunner(self.engine, threads=self.nproc,
                                    state_dir=os.path.join(self.work, "state"))

    def warm_up(self) -> None:
        for sql in ("SELECT COUNT(*) FROM raw_lineitem",
                    "SELECT o_orderpriority, COUNT(*) FROM raw_orders "
                    "JOIN raw_lineitem ON o_orderkey = l_orderkey GROUP BY 1"):
            self.spark.sql(sql).collect()

    def _timed_models(self) -> None:
        """Time every model op (run_model / run_snapshot) in whichever
        thread runs it."""
        from dbt_icebreaker_spark.runner import IcebreakerEngine

        self._orig = {}
        wl = self
        for attr in ("run_model", "run_snapshot"):
            orig = getattr(IcebreakerEngine, attr)
            self._orig[attr] = orig

            def timed(eng, name, *a, _orig_fn=orig, **kw):
                start = time.time()
                try:
                    return _orig_fn(eng, name, *a, **kw)
                finally:
                    wl._model_times.append((name, start, time.time()))

            setattr(IcebreakerEngine, attr, timed)

    def restore(self) -> None:
        from dbt_icebreaker_spark.runner import IcebreakerEngine

        for attr, orig in getattr(self, "_orig", {}).items():
            setattr(IcebreakerEngine, attr, orig)

    def _run_project(self, pass_no: int, full_refresh: bool) -> float:
        self._model_times: list[tuple[str, float, float]] = []
        t0 = time.time()
        session = self.runner.run(self.models, full_refresh=full_refresh)
        wall = time.time() - t0
        failed = set(session["failed"])
        timing = {n: (a, b) for n, a, b in self._model_times}
        for m in self.models:
            a, b = timing.get(m.name, (t0, t0))
            ok = m.name not in failed
            self.ops.append(Op(m.name, pass_no, a, b, ok, "" if ok else "raised or skipped"))
            if not ok:
                self.fail(f"{m.name} (pass {pass_no}): raised or skipped")
        self._records(pass_no, t0, time.time(), session)
        return wall

    def _records(self, pass_no, t0, t1, session) -> None:
        """Observability records this pass left, against what it ran."""
        ran = {n for n, _a, _b in self._model_times}
        ok = ran - set(session["failed"])
        summary = sum(1 for m in session["models"] if m["ts"] >= t0)
        wal = self.runner.wal._load()
        wal_found = sum(1 for n in ran
                        if wal.get(n, {}).get("started_at", 0) >= t0
                        and wal.get(n, {}).get("status") != "running")
        with sqlite3.connect(self.runner.savings.db_path) as c:
            saved = c.execute("SELECT COUNT(*) FROM savings WHERE ts >= ? AND ts <= ?",
                              (t0, t1)).fetchone()[0]
        lost = (len(self.models) - summary) + (len(ran) - wal_found) + (len(ok) - saved)
        self.records.append({"pass": pass_no, "lost": max(0, lost),
                             "batch_rows": sum(self.pdata.batch_rows.values())})

    def prepare(self) -> None:
        self.records: list[dict] = []
        self._timed_models()
        t = time.time()
        self._run_project(0, full_refresh=True)
        self.initial_build_s = time.time() - t

    def run_pass(self, pass_no: int) -> float:
        self.pdata.land_next()
        for kind in ("raw", "landing"):
            for src in gen.PROJECT_SOURCES:
                self.spark.sql(f"REFRESH TABLE {kind}_{src}")
        return self._run_project(pass_no, full_refresh=False)

    def verify(self) -> None:
        duck = checks.project_duck(self.sources)
        try:
            problems = checks.check_project(self.spark, self.schema, duck)
        finally:
            duck.close()
        # a model whose final table is wrong fails its last op
        for model, problem in problems.items():
            self.fail(f"{model}: {problem}")
            last = [op for op in self.ops if op.name == model][-1]
            last.ok, last.error = False, problem


WORKLOADS = {w.name: w for w in (QueryMix, ProjectRun)}
