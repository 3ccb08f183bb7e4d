"""The benchmark's workloads. Each drives the engine's public
functions from one closed-loop client (no threads) and checks its own
answers outside the timed operations.

Engine functions are called through their modules (``V.merge_version``
rather than a from-import) so a traced run's wrappers see every call.
"""

from __future__ import annotations

import contextlib
import glob
import json
import math
import os
import random

from perfbench import catgen, tmsgen
from perfbench.harness import Timer, dir_bytes, median, tail
from perfbench.tracing import TRACED_MIN_STEPS, Tracer, plan_phases_s, traced_step


def execute(df, tracer: Tracer | None, collect: bool = False):
    """Run ``df`` to completion: into the noop sink, or collected. A
    traced execution first plans the query in its own span so
    Catalyst time is recorded (``catalyst.plan``)."""
    if tracer is not None and tracer.enabled:
        with tracer.span("catalyst.plan") as rec:
            rec["plan_s"] = plan_phases_s(df)
    with _span(tracer, "spark.action"):
        if collect:
            return df.collect()
        df.write.format("noop").mode("overwrite").save()
        return None


def _span(tracer: Tracer | None, name: str):
    return tracer.span(name) if tracer is not None else contextlib.nullcontext({})


def _manifest(table_dir: str, version: int) -> dict:
    with open(os.path.join(table_dir, "_manifests", f"v{version:06d}.json")) as f:
        return json.load(f)


def _live(man: dict) -> set[str]:
    dead = set(man.get("dead_files") or [])
    return {f for f in man.get("stats") or {} if f not in dead}


def live_files(table_dir: str, version: int | None = None) -> int:
    """Live data files of a version, from its manifest."""
    if version is None:
        version = max(int(os.path.basename(p)[1:7]) for p in
                      glob.glob(os.path.join(table_dir, "_manifests", "v*.json")))
    return len(_live(_manifest(table_dir, version)))


# Public engine functions wrapped in a traced run, as (module, attr, span).
TRACED = [
    ("tms_etl_spark.tms.pipeline", "import_daily_versioned", "tms.pipeline.import_daily_versioned"),
    ("tms_etl_spark.tms.source", "read_daily", "tms.source.read_daily"),
    ("tms_etl_spark.operators.merge", "dedupe_batch", "operators.merge.dedupe_batch"),
    ("tms_etl_spark.operators.versioned", "write_version", "versioned.write_version"),
    ("tms_etl_spark.operators.versioned", "merge_version", "versioned.merge_version"),
    ("tms_etl_spark.operators.versioned", "maintain_table", "versioned.maintain_table"),
    ("tms_etl_spark.operators.versioned", "read_version", "versioned.read"),
    ("tms_etl_spark.operators.versioned", "read_version_where", "versioned.read"),
    ("tms_etl_spark.operators.versioned", "register_versioned", "versioned.read"),
    ("tms_etl_spark.operators.bloomindex", "read_version_point", "versioned.read"),
    ("tms_etl_spark.operators.bloomindex", "bloom_admitted_files", "bloomindex.probe"),
    ("tms_etl_spark.operators.bloomindex", "build_bloom_index", "bloomindex.build"),
    ("tms_etl_spark.sources.tables", "load_table", "sources.tables.load_table"),
]


def trace_counts(name, rec, args, kwargs, out) -> None:
    """Counts recorded at the layer boundary in a traced run."""
    if name == "versioned.read" and hasattr(out, "inputFiles"):
        table_dir = args[1] if len(args) > 1 else kwargs.get("table_dir")
        rec["files_scanned"] = len(out.inputFiles())
        rec["live_files"] = live_files(table_dir)
    elif name == "bloomindex.probe" and out is not None:
        table_dir, version = args[1], args[5] if len(args) > 5 else kwargs["version"]
        rec["admitted"] = len(out)
        rec["live_files"] = live_files(table_dir, version)
    elif name == "versioned.merge_version":
        table_dir = args[1] if len(args) > 1 else kwargs["table_dir"]
        # previously live files the commit retired (marked dead, or
        # dropped with their directory)
        rec["files_rewritten"] = len(
            _live(_manifest(table_dir, out - 1)) - _live(_manifest(table_dir, out)))


class TmsIngest:
    """The reference's loop: backfill, then poll cycles that land a
    day, re-export the last two months and re-import them, followed by
    both monthly reports and a fixed mix of lakehouse reads: two point
    lookups (manifest-pruned WHERE, Bloom sidecar), a loom/month range
    read (AND, OR and IN predicates in turn), SQL over the registered
    snapshot and time travel. After the backfill the table gets a Bloom
    sidecar on ``DataTurno``. The first cycle is a warm-up: it pays a
    fresh JVM's first MERGE, first reports and first reads, and the
    end-to-end figures are over the cycles after it. A traced run ends
    with ``maintain_table`` (compaction, sidecar extension), after the
    cycles, so plain and traced runs time the same cycles."""

    name = "tms_ingest"
    # 10 looms, not the 40 of a real plant: a re-import's cost is mostly
    # per-commit (~4.7 s at 10 looms, ~6 s at 40), and the smaller lake
    # fits more cycles into a run
    LOOMS = 10
    # 2024-01-01 .. 2024-12-15: twelve month partitions, so a cycle's
    # two-month re-import touches two of them
    BACKFILL_DAYS = 350
    MIN_CYCLES = 2  # the warm-up cycle and at least one measured
    REPORTS = ("efficiency_by_loom_month", "stop_reason_pareto")
    RANGES = ("range_and", "range_or", "range_in")
    # reads after the reports, every cycle; the range read's predicate
    # form turns with the cycle, the seed picks keys, months and looms
    READS = ("point_where", "point_bloom", "range", "sql", "time_travel")

    def prepare(self, ctx) -> None:
        self.lake = tmsgen.TmsLake(os.path.join(ctx.root, "lake"), ctx.seed, self.LOOMS)
        self.lake.write_backfill(self.BACKFILL_DAYS)
        self.table = os.path.join(ctx.root, "tables", "fact")
        self.model = tmsgen.ExpectedTable()
        self.rng = random.Random(ctx.seed)
        self.wrong: list[str] = []
        self.checked = 0
        self.history: list[dict] = []   # Metros per key, per table version
        self.write_amp: list[float] = []  # table bytes added / CSV bytes read
        self.after_write: list[float] = []  # per cycle: reports + reads
        self.cycle_ops: list[tuple[int, float]] = []  # per cycle: (ops, their time)
        ctx.detail["inputs"] = {"looms": self.LOOMS, "backfill_days": self.BACKFILL_DAYS,
                                "backfill_csv_bytes": dir_bytes(self.lake.root)}

    # -- operations ---------------------------------------------------
    def _import(self, spark, months):
        from tms_etl_spark.tms import pipeline

        before = dir_bytes(self.table) if os.path.isdir(self.table) else 0
        csv = sum(os.path.getsize(p) for m in months
                  for p in glob.glob(os.path.join(self.lake.root, m, "daily", "*")))
        pipeline.import_daily_versioned(spark, self.lake.root, self.table, months)
        self.write_amp.append((dir_bytes(self.table) - before) / csv)

    def _report(self, spark, tracer, which):
        from tms_etl_spark.operators import versioned as V
        from tms_etl_spark.tms import queries as Q

        fact = V.read_version(spark, self.table)
        execute(getattr(Q, which)(fact), tracer)

    def _read(self, spark, tracer, kind):
        """One read of the seeded mix. Returns the rows read and a
        function computing the model's answer, which the caller runs
        outside the timed operation."""
        from pyspark.sql import functions as F

        from tms_etl_spark.operators import bloomindex as B
        from tms_etl_spark.operators import versioned as V

        rng = self.rng
        model = self.model.rows
        keys = self._keys
        if kind in ("point_where", "point_bloom"):
            dt_, tear = keys[min(len(keys) - 1, int(rng.expovariate(1 / 200)))]
            if kind == "point_where":
                df = V.read_version_where(
                    spark, self.table, f"DataTurno = '{dt_}' AND Tear = '{tear}'")
            else:
                df = B.read_version_point(spark, self.table, "DataTurno", dt_).where(
                    F.col("Tear") == tear)
            rows = execute(df.select("DataTurno", "Tear", "Metros"), tracer, collect=True)
            got = [(r[0], r[1], r[2]) for r in rows]

            def want():
                return [(dt_, tear, model[(dt_, tear)][10])]
        elif kind in ("range_and", "range_or", "range_in"):
            months = self.lake.months(self.lake.days)
            month = months[-1 - min(len(months) - 1, int(rng.expovariate(1.0)))]
            looms = rng.sample(self.lake.looms, 3)
            if kind == "range_and":
                where = f"month = '{month}' AND Tear >= '{looms[0]}' AND Tear <= '{looms[0]}'"
                looms = looms[:1]
            elif kind == "range_or":
                where = f"month = '{month}' AND (Tear = '{looms[0]}' OR Tear = '{looms[1]}')"
                looms = looms[:2]
            else:
                where = f"month = '{month}' AND Tear IN ({', '.join(repr(t) for t in looms)})"
            df = V.read_version_where(spark, self.table, where)
            rows = execute(df.select("DataTurno", "Tear"), tracer, collect=True)
            got = sorted((r[0], r[1]) for r in rows)

            def want():
                return sorted(k for k in model if k[0][:7] == month and k[1] in looms)
        elif kind == "sql":
            month = self.lake.months(self.lake.days)[-1]
            V.register_versioned(spark, self.table, "fact_tms")
            df = spark.sql(
                "SELECT Tear, COUNT(*) AS n, SUM(Funcionando) AS run FROM fact_tms "
                f"WHERE month = '{month}' GROUP BY Tear")
            rows = execute(df, tracer, collect=True)
            got = sorted((r[0], r[1], round(r[2], 6)) for r in rows)

            def want():
                agg: dict[str, list] = {}
                for k, row in model.items():
                    if k[0][:7] == month:
                        a = agg.setdefault(k[1], [0, 0.0])
                        a[0] += 1
                        a[1] += row[7]
                return sorted((t, a[0], round(a[1], 6)) for t, a in agg.items())
        else:  # time travel to the version before the latest commit
            prev = self.version - 1
            snap = self.history[prev - 1]
            dt_, tear = keys[int(rng.random() * len(keys))]
            df = V.read_version(spark, self.table, version=prev).where(
                (F.col("DataTurno") == dt_) & (F.col("Tear") == tear))
            rows = execute(df.select("Metros"), tracer, collect=True)
            got = [r[0] for r in rows]

            def want():
                return [snap[(dt_, tear)]] if (dt_, tear) in snap else []
        if tracer is not None:
            tracer.current()["rows_returned"] = len(rows)
        return got, want

    def _snapshot(self) -> None:
        """Model state (Metros per key) as of the latest version."""
        self.history.append({k: v[10] for k, v in self.model.rows.items()})

    def loop(self, spark, ctx, timer: Timer) -> None:
        from tms_etl_spark.operators import bloomindex as B
        from tms_etl_spark.operators import versioned as V

        tracer = timer.tracer
        months = self.lake.months(self.lake.days)
        timer.run("backfill", self._import, spark, months)
        self.model.apply(self.model.read_batch(self.lake.root, months))
        ctx.detail["backfill_rows"] = len(self.model.rows)
        timer.run("index", B.build_bloom_index, spark, self.table, "DataTurno")
        while len(self.history) < V.current_version(spark, self.table):
            self._snapshot()
        cycle = 0
        least = self.MIN_CYCLES if tracer is None else max(self.MIN_CYCLES, TRACED_MIN_STEPS)
        while cycle < least or not timer.expired():
            if tracer is not None:
                tracer.enabled = traced_step(cycle)
            if cycle == 1:
                timer.warm_up_done()
            cycle += 1
            months = self.lake.write_cycle()
            n_import = len(timer.ops)
            timer.run("import", self._import, spark, months)
            self.model.apply(self.model.read_batch(self.lake.root, months))
            self.version = V.current_version(spark, self.table)
            while len(self.history) < self.version:
                self._snapshot()
            self._keys = sorted(self.model.rows, reverse=True)  # newest first
            n_reads = len(timer.ops)
            for which in self.REPORTS:
                timer.run("report", self._report, spark, tracer, which)
            for kind in self.READS:
                if kind == "range":
                    kind = self.RANGES[cycle % len(self.RANGES)]
                res = timer.run(kind, self._read, spark, tracer, kind)
                if res is not None:
                    got, want = res[0], res[1]()
                    self.checked += 1
                    if got != want:
                        self.wrong.append(f"{kind}: got {got[:3]} want {want[:3]}")
            self.after_write.append(sum(op[1] for op in timer.ops[n_reads:]))
            ops = timer.ops[n_import:]
            self.cycle_ops.append((len(ops), sum(op[1] for op in ops)))
        if tracer is not None:
            tracer.enabled = True
            timer.run("maintain", V.maintain_table, spark, self.table)
        ctx.detail["cycles"] = cycle

    # -- checks (untimed) ------------------------------------------------
    def check(self, spark, ctx) -> tuple[int, int]:
        """Whole-table comparison with the model, plus the two reports
        recomputed from the model. Returns (checks, wrong)."""
        from tms_etl_spark.operators import versioned as V
        from tms_etl_spark.tms import queries as Q
        from tms_etl_spark.tms.schema import DAILY_COLUMNS

        wrong = list(self.wrong)
        fact = V.read_version(spark, self.table)
        num_cols = list(DAILY_COLUMNS[5:])
        pdf = fact.select("DataTurno", "Tear", "Artigo", "ArtigoGen", *num_cols).toPandas()
        got = {(r[0], r[1]): list(r[2:]) for r in pdf.itertuples(index=False, name=None)}
        want = {k: [v[2], v[4], *v[5:]] for k, v in self.model.rows.items()}
        if got != want:
            bad = [k for k in set(got) | set(want) if got.get(k) != want.get(k)]
            wrong.append(f"table: {len(bad)} rows differ, e.g. {sorted(bad)[:3]}")
        eff = {(r["Tear"], r["month"]): (r["n_turnos"], r["metros"])
               for r in Q.efficiency_by_loom_month(fact).collect()}
        exp: dict = {}
        for (dt_, tear), v in self.model.rows.items():
            a = exp.setdefault((tear, dt_[:7]), [0, 0.0])
            a[0] += 1
            a[1] += v[10]
        if set(eff) != set(exp) or any(
            eff[k][0] != a[0] or not math.isclose(eff[k][1], a[1], rel_tol=1e-9)
            for k, a in exp.items()
        ):
            wrong.append("efficiency_by_loom_month differs from the model")
        ctx.detail["live_rows"] = len(want)
        ctx.detail["stored_bytes_per_row"] = dir_bytes(self.table) / max(1, len(want))
        ctx.detail["wrong"] = wrong[:10]
        return self.checked + 2, len(wrong)

    def end_to_end(self, timer: Timer, ctx) -> dict:
        backfill = timer.times("backfill")
        ctx.detail["backfill_rows_per_s"] = (
            ctx.detail["backfill_rows"] / backfill[0] if backfill else 0.0)
        point = timer.times("point_where", "point_bloom", warm=True)
        t = tail(point)
        ctx.detail["point_s.p50"] = median(point)
        ctx.detail["point_s.tail"] = (
            {"value": t[0], "percentile": t[1], "samples": t[2]} if t else None)
        ctx.detail["report_s.p50"] = median(timer.times("report", warm=True))
        ctx.detail["import_s.p50"] = median(timer.times("import", warm=True))
        ctx.detail["after_write_s"] = self.after_write
        return {"ops_per_s": median([n / t for n, t in self.cycle_ops[1:] if t]),
                "class_a_s.p50": ctx.detail["import_s.p50"],
                "class_b_s.p50": median(self.after_write[1:])}

    def layer_extras(self, ctx) -> dict:
        return {"tms.backfill_rows_per_s": ctx.detail["backfill_rows_per_s"],
                "tms.stored_bytes_per_row": ctx.detail["stored_bytes_per_row"],
                "versioned.bytes_written_per_input_byte": median(self.write_amp[1:])}


class CatalogMix:
    """Rounds over pinned catalog entries on seeded TPC-H-shaped tables
    (one file, one row group per table), each executed into the noop
    sink; the ANN entries' ten-row answers are collected for the recall
    check. ``relational`` entries are JVM-only plans; ``llm`` entries
    run the production IVF and PQ searches and semantic dedup, in
    Python workers in part. The first round pays a fresh JVM's class
    loading and code generation; the class medians are over the warm
    rounds after it."""

    name = "catalog_mix"
    SF = 0.02
    MIN_ROUNDS = 2  # the cold round and at least one warm
    CHECKS_PER_RUN = 1
    # three entries a class, so a round's class sum averages out the
    # ~10% an entry's time varies from one round to the next
    RELATIONAL = ["q1_pricing_summary", "q18_large_volume", "q7_volume_shipping"]
    LLM = ["sim_ivf_topk", "sim_pq_adc", "dedup_semantic"]

    def prepare(self, ctx) -> None:
        from tms_etl_spark import catalog

        self.sf_dir = os.path.join(ctx.root, "tables", "sf")
        ctx.detail["inputs"] = {"sf": self.SF, "rows": catgen.generate(
            self.sf_dir, ctx.seed, self.SF)}
        catalog.load_all()
        self.fns = {n: production_entry(n) or catalog.QUERIES[n]
                    for n in self.RELATIONAL + self.LLM}
        self.rounds: dict[str, list[float]] = {"relational": [], "llm": []}
        self.ann_ids: dict[str, set] = {}

    def _query(self, spark, tracer, name):
        with _span(tracer, "catalog.build"):
            df = self.fns[name](spark, self.sf_dir)
        with _span(tracer, "catalog.action"):
            if name in ANN:  # ten rows, kept for the recall check
                self.ann_ids[name] = {r["vec_id"] for r in execute(df, tracer, collect=True)}
            else:
                execute(df, tracer)

    def loop(self, spark, ctx, timer: Timer) -> None:
        tracer = timer.tracer
        rnd = 0
        least = self.MIN_ROUNDS if tracer is None else max(self.MIN_ROUNDS, TRACED_MIN_STEPS)
        while rnd < least or not timer.expired():
            if tracer is not None:
                tracer.enabled = traced_step(rnd)
            if rnd == 1:
                timer.warm_up_done()
            rnd += 1
            for cls, names in (("relational", self.RELATIONAL), ("llm", self.LLM)):
                n0 = len(timer.ops)
                for name in names:
                    timer.run(name, self._query, spark, tracer, name)
                self.rounds[cls].append(sum(op[1] for op in timer.ops[n0:]))
        if tracer is not None:
            tracer.enabled = True
        ctx.detail["rounds"] = rnd

    def check(self, spark, ctx) -> tuple[int, int]:
        """A seed-chosen subset of the oracle-backed entries against DuckDB
        at the same sf; in a traced run also recall@10 of the two ANN
        entries (a per-layer metric)."""
        import sys

        from tms_etl_spark import catalog

        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        sys.path.insert(0, os.path.join(root, "tests"))
        from oracle_utils import assert_frames_match, duck_connection

        names = [n for n in self.RELATIONAL + self.LLM if n in catalog.ORACLES]
        # rotate by seed, so consecutive seeds cover every entry
        pick = [names[(ctx.seed + i) % len(names)] for i in range(self.CHECKS_PER_RUN)]
        con = duck_connection(self.sf_dir)
        wrong = []
        for n in pick:
            try:
                assert_frames_match(catalog.QUERIES[n](spark, self.sf_dir).toPandas(),
                                    con.sql(catalog.ORACLES[n]).df(), n)
            except AssertionError as e:
                wrong.append(f"{n}: {str(e)[:200]}")
        ctx.detail["oracle_checked"] = pick
        ctx.detail["wrong"] = wrong
        if ctx.trace:
            ctx.detail["recall_at_10"] = ann_recall(spark, self.sf_dir, self.ann_ids)
        return len(pick), len(wrong)

    def end_to_end(self, timer: Timer, ctx) -> dict:
        ctx.detail["relational_rounds_s"] = self.rounds["relational"]
        ctx.detail["llm_rounds_s"] = self.rounds["llm"]
        n = len(self.RELATIONAL) + len(self.LLM)
        warm = list(zip(self.rounds["relational"], self.rounds["llm"]))[1:]
        return {"ops_per_s": median([n / (a + b) for a, b in warm]),
                "class_a_s.p50": median(self.rounds["relational"][1:]),
                "class_b_s.p50": median(self.rounds["llm"][1:])}

    def layer_extras(self, ctx) -> dict:
        r = ctx.detail["recall_at_10"]
        return {"similarity.recall_at_10.ivf": r["sim_ivf_topk"],
                "similarity.recall_at_10.pq": r["sim_pq_adc"]}


def production_entry(name: str):
    """The production operator behind a catalog entry that wraps it in
    an oracle-agreement harness, as the repository's headline benchmark
    (``bench.py``) times it. None for plain entries."""
    from bench import _production_overrides

    return _production_overrides().get(name)


ANN = ("sim_ivf_topk", "sim_pq_adc")


def _query_vec(emb) -> list[float]:
    """The ANN entries' query: vector 0, searched for among the rest."""
    from pyspark.sql import functions as F

    row = emb.where(F.col("vec_id") == 0).select("embedding").head()
    return [float(x) for x in row["embedding"]]


def ann_recall(spark, sf_dir: str, got: dict[str, set]) -> dict[str, float]:
    """recall@10 of the ANN entries against exact cosine top-k: their
    last answers in the loop, or one untimed run for an entry the loop
    does not time."""
    from pyspark.sql import functions as F

    from tms_etl_spark.operators.similarity import cosine_topk
    from tms_etl_spark.sources import tables

    emb = tables.load_table(spark, sf_dir, "embeddings")
    exact = {r["vec_id"] for r in cosine_topk(emb.where(F.col("vec_id") != 0),
                                              _query_vec(emb), k=10)
             .select("vec_id").collect()}
    out = {}
    for name in ANN:
        ids = got.get(name)
        if ids is None:
            ids = {r["vec_id"] for r in production_entry(name)(spark, sf_dir).collect()}
        out[name] = len(ids & exact) / 10.0
    return out


WORKLOADS = {w.name: w for w in (TmsIngest, CatalogMix)}
