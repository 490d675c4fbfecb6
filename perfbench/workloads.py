"""The benchmark's workloads.

A workload generates its inputs from the seed, warms a session up on a
separate sf0.001-shaped input, and runs iterations through the engine's
public functions. Each iteration returns an ``Outcome`` (its wall time, per
operation latencies, raw outputs and the operations that raised);
``verify`` checks every output after the clock stops.

Why these two workloads (README.md has the layer -> metric map):

- ``rec_lifecycle`` is the paper's lifecycle, the stages of
  ``python -m etl_master_spark --model gan --export-embeddings``. Small data
  and many Spark jobs: per-job overhead, the GAN's driver-side training loop,
  recsplit, ranking and the parquet sinks dominate. It does no text, vector
  or SQL-analytics work.
- ``curation_sql`` is the LLM-data curation chain, then one round of the
  SQL-analytics mix from two concurrent clients. Shuffles, self-joins, Arrow
  UDFs, scans and scheduler queueing dominate. It does no recsplit, ranking
  or model work.
"""

from __future__ import annotations

import threading
import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from pathlib import Path

import gen
import verify

KS = [5, 10]
GAN_PASSES = 3  # one G, G, D cycle: the discriminator pass is exercised


@dataclass
class Outcome:
    wall_s: float = 0.0
    cpu_s: float = 0.0
    phases: dict[str, float] = field(default_factory=dict)
    latencies: dict[str, list[float]] = field(default_factory=dict)
    outputs: dict = field(default_factory=dict)
    errors: list[str] = field(default_factory=list)
    sink_dirs: list[Path] = field(default_factory=list)
    started: float = 0.0  # epoch seconds, for the traced run's job counts
    ended: float = 0.0


def _span(tracer, layer: str, name: str):
    return nullcontext() if tracer is None else tracer.span(layer, name)


def _failure(name: str, e: Exception) -> str:
    return f"{name}: raised {type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"


def _checked(checks: dict, errors: list[str]) -> tuple[int, list[str]]:
    """Run every check (a callable returning its problems); a check that
    raises, for instance on an output a failed operation never produced,
    fails with the exception. Returns (operations attempted, problems):
    each failing check and each operation that raised counts once."""
    problems = list(errors)
    for name, check in checks.items():
        try:
            errs = check()
        except Exception as e:
            errs = [_failure("check", e)]
        if errs:
            problems.append(f"{name}: {'; '.join(errs[:3])}")
    return len(checks) + len(errors), problems


class RecLifecycle:
    name = "rec_lifecycle"
    scale = "sf0.001"  # 15 users, 1,000 events, 100 items
    # traced runs only: spans around the calls that cross from one layer
    # into another inside the lifecycle, forcing lazy results so that the
    # work they imply also runs in their own layer's span
    patches = [
        ("etl_master_spark.sources.sinks", "ratings", "sources.io", True),
        ("etl_master_spark.sources.sinks", "splits_of", "operators.recsplit", True),
        ("etl_master_spark.sources.sinks", "negatives_of", "operators.recsplit", True),
        ("etl_master_spark.sources.sinks", "write_table", "sources.sinks", False),
        ("etl_master_spark.model.gan", "train_gan", "model.gan", False),
        ("etl_master_spark.model.gan", "gan_scores", "model.gan", True),
        ("etl_master_spark.model.gan", "splits", "operators.recsplit", True),
        ("etl_master_spark.model.gan", "negatives", "operators.recsplit", True),
        ("etl_master_spark.model.gan", "eval_from_scores", "operators.ranking", True),
    ]

    def generate(self, root: Path, seed: int) -> dict:
        return {"scale": self.scale, "replica": 1, "catalog_width": gen.N_ITEMS,
                "tables": gen.write_sf(root, seed, self.scale)}

    def warm_up(self, spark, root: Path) -> None:
        """One GAN pass on the seed-0 sf0.001 input: ratings, splits and the
        Arrow training path, the lifecycle's costliest cold start."""
        from etl_master_spark.model.gan import train_gan

        gen.write_sf(root, 0, "sf0.001")
        train_gan(spark, str(root), passes=1)

    def run(self, spark, sf: Path, tracer=None) -> Outcome:
        from etl_master_spark.model import gan
        from etl_master_spark.operators.stats import best_epoch_reeval
        from etl_master_spark.sources.sinks import materialize_splits, write_table

        out = sf / "_out"
        o = Outcome(sink_dirs=[out])
        trained: list[dict] = []
        train = gan.train_gan

        def recording_train(*a, **kw):
            model = train(*a, **kw)
            trained.append({f"{s}.{k}": v.copy() for s in ("g", "d")
                            for k, v in model[s].items()})
            return model

        # the lifecycle trains twice with one seed (eval, then export, as
        # the CLI does); keeping both parameter sets gives the replay check
        gan.train_gan = recording_train
        outputs = {"trained": trained, "prep": out / "prep", "emb": out / "emb"}

        def stage(name: str, layer: str, fn) -> None:
            try:
                with _span(tracer, layer, name):
                    fn()
            except Exception as e:
                o.errors.append(_failure(name, e))
            marks.append(time.perf_counter())

        def train_eval():
            frames = gan.gan_eval_with(spark, str(sf), modes=("vali", "test"),
                                       passes=GAN_PASSES, ks=KS)
            outputs["metrics"] = {m: [r.asDict() for r in df.collect()]
                                  for m, df in frames.items()}

        def reeval():
            outputs["reeval"] = best_epoch_reeval(spark, str(sf)).toPandas()

        def export():
            emb = gan.gan_user_embeddings(spark, str(sf), "x", passes=GAN_PASSES)
            write_table(emb, str(out / "emb"))

        try:
            o.started = time.time()
            marks = [time.perf_counter()]
            stage("prepare", "sources.sinks",
                  lambda: materialize_splits(spark, str(sf), str(out / "prep")))
            stage("train_eval", "model.gan", train_eval)
            stage("best_epoch_reeval", "operators.stats", reeval)
            stage("export_embeddings", "model.gan", export)
            o.wall_s = marks[-1] - marks[0]
            o.ended = time.time()
        finally:
            gan.train_gan = train
        names = ("prepare", "train_eval", "best_epoch_reeval", "export_embeddings")
        o.latencies = {n: [b - a] for n, a, b in zip(names, marks, marks[1:])}
        o.outputs = outputs
        return o

    def verify(self, sf: Path, o: Outcome) -> tuple[int, list[str]]:
        """(operations attempted, one problem line per failed operation).
        Splits, negatives and the best-epoch re-eval against their DuckDB
        oracles; the GAN's vali and test metrics by invariants; the two
        trainings by replay; the embedding export by one row of 16
        non-negative values per training user."""
        import pyarrow.parquet as pq
        from etl_master_spark.operators import recsplit, stats

        con = verify.duck(str(sf))
        out = o.outputs

        def embeddings():
            emb = pq.read_table(out["emb"]).to_pandas()
            users = con.sql(f"SELECT COUNT(DISTINCT user_id) FROM ({recsplit.SPLITS_ORACLE}) "
                            "WHERE split = 'train'").fetchone()[0]
            errs = []
            if len(emb) != users or emb["user_id"].nunique() != users:
                errs.append(f"{len(emb)} rows for {emb['user_id'].nunique()} users, want {users}")
            if any(len(e) != 16 or min(e) < 0 for e in emb["embedding"]):
                errs.append("an embedding is not 16 non-negative values")
            return errs

        def replay():
            t = out["trained"]
            return verify.same_params(t[0], t[1]) if len(t) == 2 else [
                f"{len(t)} trainings, want 2"]

        checks = {
            "splits": lambda: verify.compare(
                pq.read_table(out["prep"] / "splits").to_pandas()
                .astype({"domain": str, "split": str}),
                con.sql(recsplit.SPLITS_ORACLE).df()),
            "negatives": lambda: verify.compare(
                pq.read_table(out["prep"] / "negatives").to_pandas()
                .astype({"domain": str}),
                con.sql(recsplit.NEGATIVES_ORACLE).df()),
            "best_epoch_reeval": lambda: verify.compare(
                out["reeval"], con.sql(stats.BEST_EPOCH_REEVAL_ORACLE).df()),
            **{f"gan_{mode}": (lambda mode=mode: verify.ranking_invariants(
                out["metrics"][mode], KS)) for mode in ("vali", "test")},
            "gan_replay": replay,
            "embeddings": embeddings,
        }
        return _checked(checks, o.errors)

    def plant_fault(self, o: Outcome) -> None:
        """Corrupt one verified output (the benchmark's own tests)."""
        o.outputs["metrics"]["test"][0]["hr"] = 1.5


# the chain ends: dedup_representatives runs minhash_lsh_pairs and
# dedup_clusters inside it, semantic_dedup runs the kmeans_embeddings training
CURATION = [
    ("dedup_representatives", "operators.text"),
    ("bm25_search", "operators.text"),
    ("contamination_screen", "operators.text"),
    ("semantic_dedup", "operators.vectors"),
]
SQL_MIX = [
    ("pricing_summary", "operators.relational"),
    ("nation_year_profit", "operators.tpch"),
    ("orders_cube", "operators.analytics"),
    ("customer_rfm", "operators.warehouse"),
    ("events_hourly", "streaming.windows"),
    ("user_sessions", "streaming.windows"),
]
SQL_CLIENTS = 2


class CurationSql:
    name = "curation_sql"
    scale = "sf0.001"  # 500 documents, 500 embeddings, 6,000 line items
    # traced runs only: table scans get their own sources.io span
    patches = [
        (f"etl_master_spark.{mod}", "load_table", "sources.io", True)
        for mod in ("operators.text", "operators.vectors", "operators.relational",
                    "operators.tpch", "operators.warehouse", "operators.analytics",
                    "streaming.windows")
    ]

    def generate(self, root: Path, seed: int) -> dict:
        return {"scale": self.scale, "replica": 1, "catalog_width": gen.N_ITEMS,
                "clients": SQL_CLIENTS, "tables": gen.write_sf(root, seed, self.scale)}

    def warm_up(self, spark, root: Path) -> None:
        from etl_master_spark.plans.registry import QUERIES

        gen.write_sf(root, 0, "sf0.001")
        for name in ("minhash_lsh_pairs", "pricing_summary"):
            QUERIES[name](spark, str(root)).collect()

    def run(self, spark, sf: Path, tracer=None) -> Outcome:
        """The curation chain in order, then every client runs the SQL mix
        once, starting at a different query (closed loop: a client issues
        its next query when the last one returned)."""
        from etl_master_spark.plans.registry import QUERIES

        o = Outcome()
        results: list[tuple[str, object]] = []
        lock = threading.Lock()

        def execute(name: str, layer: str) -> None:
            q0 = time.perf_counter()
            try:
                with _span(tracer, layer, name):
                    pdf = QUERIES[name](spark, str(sf)).toPandas()
            except Exception as e:
                with lock:
                    o.errors.append(_failure(name, e))
                return
            lat = time.perf_counter() - q0
            with lock:
                o.latencies.setdefault(name, []).append(lat)
                results.append((name, pdf))

        def client(c: int) -> None:
            start = c * len(SQL_MIX) // SQL_CLIENTS
            for i in range(len(SQL_MIX)):
                execute(*SQL_MIX[(start + i) % len(SQL_MIX)])

        o.started = time.time()
        t0 = time.perf_counter()
        for name, layer in CURATION:
            execute(name, layer)
        t1 = time.perf_counter()
        threads = [threading.Thread(target=client, args=(c,)) for c in range(SQL_CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        t2 = time.perf_counter()
        o.ended = time.time()
        o.wall_s = t2 - t0
        o.phases = {"curation": t1 - t0, "sql": t2 - t1}
        o.outputs = {"results": results}
        return o

    def verify(self, sf: Path, o: Outcome) -> tuple[int, list[str]]:
        """(operations attempted, one problem line per failed operation):
        every curation output and every query execution against its DuckDB
        oracle, each oracle run once."""
        from etl_master_spark.plans.registry import ORACLES

        con = verify.duck(str(sf))
        want: dict = {}

        def check(name, got):
            if name not in want:
                want[name] = con.sql(ORACLES[name]).df()
            return verify.compare(got, want[name])

        checks = {f"{name}#{i}": (lambda name=name, got=got: check(name, got))
                  for i, (name, got) in enumerate(o.outputs["results"])}
        return _checked(checks, o.errors)

    def plant_fault(self, o: Outcome) -> None:
        """Drop one row of one verified output (the benchmark's own tests)."""
        name, pdf = o.outputs["results"][0]
        o.outputs["results"][0] = (name, pdf.iloc[1:])


WORKLOADS = {w.name: w for w in (RecLifecycle, CurationSql)}
