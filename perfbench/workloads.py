"""The benchmark's workloads.

Each workload has a ``setup`` (inputs and index builds, counted in
``setup_s``), an ``op`` (the unit that is timed and repeated for the
run's seconds), gates that check each op's result outside its timed
region, and ``layer_metrics`` (the per-layer figures a traced run
reports). Every call into the engine goes through a
public function, through ``engine.Engine`` where it has the method.

One client, closed loop: the next op starts when the previous one and
its gates are done. No extra threads.
"""

from __future__ import annotations

import glob
import hashlib
import os
import re
import statistics
import time
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq

import gen

#: The registry mix: relational, windows, fuzzy join, text, dedup and
#: similarity. None fits a model or touches a persisted index. d09
#: constructs its plan eagerly, so plan construction is a visible share
#: of the pass.
REGISTRY_MIX = (
    "q01_pricing_summary",
    "q18_session_windows",
    "j03_fuzzy_name_match",
    "t09_tfidf_top_terms",
    "d09_dup_clusters",
    "d13_simhash_neardups",
    "s02_cosine_topk",
)

DEALS_SCHEMA = (
    "acquirer_name string, target_name string, announce_date string, "
    "deal_type string, seller_name string, announced_total_value_mil double, "
    "payment_type string, deal_status string"
)
COMPANY_SCHEMA = (
    "cik string, ticker string, name string, sic string, exchange string, "
    "business string, incorporated string, irs string"
)
#: CountVectorizer minDF as a share of the filings: the reference drops
#: rare terms by document frequency (minDF 100 at corpus scale).
MIN_DF_SHARE = 0.05
TOP_PAIRS = 50
#: Compact as soon as an append leaves a cell with a second file, so
#: that every cycle does the same work.
MAX_FILES_PER_CELL = 1


def _layer(name: str, totals: dict, n_ops: int, jobs: bool = True) -> dict:
    """``name.s`` (and ``name.jobs``): self time and Spark jobs summed
    over the layer's calls, per measured op."""
    s, j = totals.get(name, (0.0, 0))
    out = {f"{name}.s": s / n_ops}
    if jobs:
        out[f"{name}.jobs"] = j / n_ops
    return out


class Workload:
    """Defaults: no gates."""

    def check(self, ctx, r: dict) -> None:
        """Gates on one op's result, outside its timed region."""

    def finish(self, ctx) -> None:
        """Gates run once, after the timed ops."""


class PaperPipeline(Workload):
    """One op = one pass of the paper's dataflow: filings corpus →
    deal linkage → 365-day labels → TF-IDF → two weighted LR models
    (acquirer, target) with AUC and confusion → ranked pairs."""

    name = "paper_pipeline"
    # The first pass of a fresh process is timed: a batch pipeline is
    # submitted once per process, so it pays JIT and class loading on
    # every real run.

    def setup(self, ctx) -> None:
        from pyspark.sql import functions as F

        self.inputs = gen.pipeline_inputs(ctx.seed, ctx.sizes, ctx.path("pipeline"))
        corpus = self.inputs["corpus"]
        self.items_per_op = len(os.listdir(corpus))
        # date and cik positions in the scan's own file URI
        uri = (
            ctx.spark.read.format("text").load(corpus)
            .select(F.input_file_name().alias("f")).first().f
        )
        segs = re.split(r"/|_", uri)
        self.date_seg = next(
            i for i, s in enumerate(segs) if re.fullmatch(r"\d{4}-\d{2}-\d{2}", s)
        ) + 1
        self.pinned = None
        self.results: list[dict] = []

    def op(self, ctx) -> dict:
        from mergers_acquisitions_predictions_spark.ml.classify import (
            confusion, evaluate_auc, train_weighted_lr,
        )
        from mergers_acquisitions_predictions_spark.ml.tfidf import build_tfidf_pipeline
        from mergers_acquisitions_predictions_spark.pipeline import (
            label_filings, link_deals_to_companies, predict_pairs,
        )
        from mergers_acquisitions_predictions_spark.sources.readers import (
            read_corpus_dir, read_csv,
        )

        spark, span = ctx.spark, ctx.tracer.span
        with span("sources.read_corpus_dir"):
            filings = read_corpus_dir(
                spark, self.inputs["corpus"],
                date_segment=self.date_seg, cik_segment=self.date_seg + 1,
            )
        deals = read_csv(spark, self.inputs["deals"], DEALS_SCHEMA)
        companies = read_csv(spark, self.inputs["companies"], COMPANY_SCHEMA)
        with span("pipeline.link_deals_to_companies"):
            acq_deals = link_deals_to_companies(deals, companies, "acquirer_name")
            tgt_deals = link_deals_to_companies(deals, companies, "target_name")
        with span("pipeline.label_filings"):
            labeled = label_filings(
                label_filings(filings, acq_deals).withColumnRenamed("acquired", "acq"),
                tgt_deals,
            ).withColumnRenamed("acquired", "tgt")
        with span("ml.tfidf.fit"):
            tfidf = build_tfidf_pipeline(
                min_df=MIN_DF_SHARE, stopwords=self.inputs["stopwords"]
            ).fit(labeled)
        with span("ml.tfidf.transform"):
            feats = tfidf.transform(labeled)
        out = {"vocab": len(tfidf.stages[-2].vocabulary), "iters": 0}
        scored = {}
        for side in ("acq", "tgt"):
            with span("ml.classify.train_weighted_lr"):
                model, _train, test = train_weighted_lr(feats, label_col=side)
            with span("ml.classify.evaluate_auc"):
                out[f"auc_{side}"] = evaluate_auc(model, test, label_col=side)
            with span("ml.classify.confusion"):
                out[f"cm_{side}"] = sorted(
                    tuple(r) for r in confusion(model, test, label_col=side).collect()
                )
            out["iters"] += model.summary.totalIterations
            scored[side] = model.transform(feats).select("cik", "prediction", "probability")
            out[f"model_{side}"], out[f"test_{side}"] = model, test
            out[f"scored_{side}"] = scored[side]
        with span("pipeline.predict_pairs"):
            pairs = predict_pairs(
                scored["acq"], scored["tgt"], companies, top_k=TOP_PAIRS
            ).collect()
        out["pairs"] = [tuple(r) for r in pairs]
        out["labeled"], out["companies"] = labeled, companies
        return out

    def check(self, ctx, r: dict) -> None:
        digest = hashlib.sha256(repr(r["pairs"]).encode()).hexdigest()
        got = (round(r["auc_acq"], 9), round(r["auc_tgt"], 9), digest)
        if self.pinned is None:
            self.pinned = got
            self._check_against_python(ctx, r)
        ctx.expect("auc and ranked-pairs digest repeat across passes", got, self.pinned)
        self.results.append(r)

    def _check_against_python(self, ctx, r: dict) -> None:
        """Labels, AUC and the ranked pairs recomputed in plain Python
        from what the engine fed each stage."""
        from pyspark.ml.functions import vector_to_array
        from pyspark.sql import functions as F

        rows = r["labeled"].select("cik", "report_date", "acq", "tgt").collect()
        got_labels = {
            side: {(x.cik, x.report_date.isoformat()): x[side] for x in rows}
            for side in ("acq", "tgt")
        }
        ctx.expect("365-day labels", got_labels, self.inputs["labels"])
        self.pos_frac = sum(x.acq + x.tgt for x in rows) / (2 * len(rows))

        p1 = vector_to_array("probability")[1]
        sic = {x.cik: int(x.sic) // 10 for x in r["companies"].collect()}
        positives = {}
        for side in ("acq", "tgt"):
            test = r[f"model_{side}"].transform(r[f"test_{side}"]).select(
                side, vector_to_array("rawPrediction")[1].alias("raw")).collect()
            pos = [x.raw for x in test if x[side] == 1]
            neg = [x.raw for x in test if x[side] == 0]
            wins = sum((p > q) + 0.5 * (p == q) for p in pos for q in neg)
            ctx.expect(f"{side} AUC", abs(wins / (len(pos) * len(neg)) - r[f"auc_{side}"]) < 1e-9, True)
            ctx.expect(f"{side} model beats chance", r[f"auc_{side}"] > 0.5, True)
            positives[side] = [
                (x.cik, x.p) for x in r[f"scored_{side}"]
                .where(F.col("prediction") == 1).select("cik", p1.alias("p")).collect()
            ]
        eligible = sorted(
            ((a * t, ca, ct) for ca, a in positives["acq"] for ct, t in positives["tgt"]
             if ca != ct and sic[ca] == sic[ct]),
            reverse=True,
        )
        pairs = r["pairs"]
        ctx.expect("pair count", len(pairs), min(TOP_PAIRS, len(eligible)))
        ctx.expect("pairs sorted by score", pairs, sorted(pairs, key=lambda x: -x[3]))
        ctx.expect("pairs in one industry, acquirer is not target",
                   all(p[1] != p[2] and sic[p[1]] == sic[p[2]] == p[0] for p in pairs), True)
        if pairs:
            # every pair scoring clearly above the cut (scores are
            # rounded to 6 dp) is in the top k
            cut = pairs[-1][3] + 1e-6
            must = Counter((a, t) for s, a, t in eligible if s > cut)
            have = Counter((p[1], p[2]) for p in pairs)
            ctx.expect("top pairs by joint probability", must - have, Counter())

    def layer_metrics(self, ctx, totals: dict, n_ops: int) -> dict:
        m = {}
        for name in ("sources.read_corpus_dir", "pipeline.link_deals_to_companies",
                     "pipeline.label_filings", "pipeline.predict_pairs", "ml.tfidf.fit",
                     "ml.classify.train_weighted_lr"):
            m.update(_layer(name, totals, n_ops))
        for name in ("ml.tfidf.transform", "ml.classify.evaluate_auc", "ml.classify.confusion"):
            m.update(_layer(name, totals, n_ops, jobs=False))
        m["pipeline.label_filings.pos_frac"] = self.pos_frac
        m["pipeline.predict_pairs.rows"] = sum(len(r["pairs"]) for r in self.results) / len(self.results)
        m["ml.tfidf.vocab_size"] = sum(r["vocab"] for r in self.results) / len(self.results)
        m["ml.classify.lr_iterations"] = sum(r["iters"] for r in self.results) / len(self.results)
        return m

    def report(self, ctx, ops: list[float]) -> dict:
        out = {"pipeline_s": (statistics.median(ops), "s")}
        if self.pinned:  # compare across runs of one seed
            out["auc_acq_tgt_pairs_sha256"] = self.pinned
        return out


class IngestWhileServing(Workload):
    """Start from indexes over a base corpus. One op = one cycle:
    stage the next micro-batch of unseen documents and vectors
    append-only, reconcile both indexes, compact the ANN index if it
    has accreted, then serve one ANN batch and one BM25 batch. The
    first cycle's batch is delivered twice (at-least-once delivery).

    No warm-up: the first cycle after the builds is timed. Cycle time
    falls for several cycles as the JVM warms, and a run affords one
    cycle; the first is the one that repeats from run to run."""

    name = "ingest_while_serving"

    def setup(self, ctx) -> None:
        from mergers_acquisitions_predictions_spark.engine import Engine

        s, d = ctx.sizes, ctx.path("ingest")
        self.n_batches = s.ingest_batches
        n = s.corpus + s.ingest_batches * s.ingest_batch
        docs_t, vecs_t = gen.documents(ctx.seed, n), gen.embeddings(ctx.seed, n)
        pq.write_table(docs_t.slice(0, s.corpus), f"{d}/docs.parquet")
        pq.write_table(vecs_t.slice(0, s.corpus), f"{d}/vecs.parquet")
        # micro-batches of unseen rows arrive as files, like a file-source stream
        ann_q = gen.ann_queries(ctx.seed, s.ann_batch, self.n_batches)
        bm25_q = gen.bm25_queries(ctx.seed, s.bm25_batch, self.n_batches)
        for b in range(self.n_batches):
            lo = s.corpus + b * s.ingest_batch
            for kind, t in (("docs", docs_t), ("vecs", vecs_t)):
                os.makedirs(f"{d}/batch/{kind}/{b}")
                pq.write_table(t.slice(lo, s.ingest_batch), f"{d}/batch/{kind}/{b}/part-0.parquet")
            pq.write_table(ann_q[b], f"{d}/batch/ann_q_{b}.parquet")
            pq.write_table(pa.table({
                "query_id": pa.array([q for q, _ in bm25_q[b]], pa.int64()),
                "term": [t for _, t in bm25_q[b]],
            }), f"{d}/batch/bm25_q_{b}.parquet")
        self.dir = d
        self.items_per_op = s.ingest_batch
        self.eng = eng = Engine(ctx.spark)
        with ctx.tracer.span("ann_index.build"):
            eng.build_ann_index(ctx.spark.read.parquet(f"{d}/vecs.parquet"), f"{d}/ann")
        with ctx.tracer.span("bm25.build"):
            eng.build_bm25_index(ctx.spark.read.parquet(f"{d}/docs.parquet"), f"{d}/bm25")
        self.cycle = 0
        # per measured cycle
        self.staged: list[int] = []
        self.appended: list[int] = []
        self.fired: list[int] = []
        self.serve_s: list[float] = []
        self.files: list[tuple[int, int]] = []

    def _stage(self, b: int) -> int:
        from mergers_acquisitions_predictions_spark.streaming.serving import (
            stage_batch_append_only,
        )

        spark, d = self.eng.spark, self.dir
        stage_batch_append_only(
            f"{d}/staged_vecs", spark.read.parquet(f"{d}/batch/vecs/{b}"), b)
        stage_batch_append_only(
            f"{d}/staged_docs", spark.read.parquet(f"{d}/batch/docs/{b}"), b,
            id_col="doc_id", vec_col="text")
        return 2 * self.items_per_op  # documents and vectors

    def op(self, ctx) -> dict:
        b = self.cycle
        if b >= self.n_batches:
            raise RuntimeError("ran out of generated micro-batches")
        eng, d, span = self.eng, self.dir, ctx.tracer.span
        with span("serving.stage"):
            staged = self._stage(b)
            if b == 0:
                staged += self._stage(b)  # the batch delivered again
        with span("serving.reconcile_ann"):
            appended = eng.reconcile_ann_index(f"{d}/ann", f"{d}/staged_vecs")
        with span("serving.reconcile_bm25"):
            appended += eng.reconcile_bm25_index(f"{d}/bm25", f"{d}/staged_docs")
        with span("ann_index.compact_if_accreted"):
            fired, _ = eng.compact_ann_index_if_accreted(
                f"{d}/ann", max_files_per_cell=MAX_FILES_PER_CELL)
        spark = eng.spark
        t_serve = time.perf_counter()
        with span("ann_index.search"):
            ann = eng.search_ann_index(
                f"{d}/ann", spark.read.parquet(f"{d}/batch/ann_q_{b}.parquet"), k=5
            ).collect()
        with span("bm25.search"):
            bm25 = eng.search_bm25_index(
                f"{d}/bm25", spark.read.parquet(f"{d}/batch/bm25_q_{b}.parquet"), k=5
            ).collect()
        serve_s = time.perf_counter() - t_serve
        self.cycle += 1
        return {"b": b, "staged": staged, "appended": appended, "fired": fired,
                "ann": ann, "bm25": bm25, "serve_s": serve_s}

    def _ingested_docs(self):
        spark, d = self.eng.spark, self.dir
        base = spark.read.parquet(f"{d}/docs.parquet")
        for b in range(self.cycle):
            base = base.unionByName(spark.read.parquet(f"{d}/batch/docs/{b}"))
        return base

    def check(self, ctx, r: dict) -> None:
        spark, d = self.eng.spark, self.dir
        queries = spark.read.parquet(f"{d}/batch/bm25_q_{r['b']}.parquet")
        want = self.eng.bm25_topk(self._ingested_docs(), queries, k=5).collect()
        ctx.expect("BM25 serve equals bm25_topk over the docs ingested so far",
                   sorted(map(tuple, r["bm25"])), sorted(map(tuple, want)))
        ctx.expect("ANN serve returns k rows per query",
                   len(r["ann"]), 5 * ctx.sizes.ann_batch)
        self.staged.append(r["staged"])
        self.appended.append(r["appended"])
        self.fired.append(int(r["fired"]))
        self.serve_s.append(r["serve_s"])
        self.files.append((_files(f"{d}/ann"), _files(f"{d}/bm25")))

    def finish(self, ctx) -> None:
        """End-of-run gates: reconcile is idempotent and every id is
        held exactly once."""
        eng, d = self.eng, self.dir
        again = (eng.reconcile_ann_index(f"{d}/ann", f"{d}/staged_vecs"),
                 eng.reconcile_bm25_index(f"{d}/bm25", f"{d}/staged_docs"))
        ctx.expect("a reconcile re-run appends nothing", again, (0, 0))
        held = eng.index_cell_stats(f"{d}/ann").groupBy().sum("n_rows").first()[0]
        ctx.expect("each vector id held once",
                   held, ctx.sizes.corpus + self.cycle * ctx.sizes.ingest_batch)

    def layer_metrics(self, ctx, totals: dict, n_ops: int) -> dict:
        m = {}
        for name in ("serving.stage", "serving.reconcile_ann", "serving.reconcile_bm25",
                     "ann_index.search", "bm25.search"):
            m.update(_layer(name, totals, n_ops))
        m.update(_layer("ann_index.compact_if_accreted", totals, n_ops, jobs=False))
        m["serving.appended_per_staged"] = sum(self.appended) / sum(self.staged)
        m["ann_index.compact_if_accreted.fired_per_checked"] = sum(self.fired) / len(self.fired)
        m["ann_index.files"] = sum(f[0] for f in self.files) / len(self.files)
        m["bm25.files"] = sum(f[1] for f in self.files) / len(self.files)
        return m

    def report(self, ctx, ops: list[float]) -> dict:
        return {
            "compaction_fired": self.fired,
            "ingest_cycle_p50_s": (statistics.median([t - s for t, s in zip(ops, self.serve_s)]), "s"),
            "mixed_serve_p50_s": (statistics.median(self.serve_s), "s"),
            "ingest_docs_per_s": (ctx.sizes.ingest_batch * len(ops) / sum(ops), "1/s"),
        }


def _files(path: str) -> int:
    """Parquet files under an index artifact's directory."""
    return len([p for p in glob.glob(f"{path}/**/*.parquet", recursive=True)])


class RegistryMix(Workload):
    """One op = one pass over the registry mix at the generated star
    schema: each query is built through ``Engine.run`` and executed to
    completion with a ``noop`` write (the ``bench.py`` rule).

    No warm-up: the first pass of a fresh session is timed, as a batch
    job that runs these queries pays it. A warm-up pass would not
    settle the numbers either: pass time keeps falling for about six
    passes (7.5 s to 4.7 s on a 4-core host), far more than a run can
    afford."""

    name = "registry_mix"

    def setup(self, ctx) -> None:
        from mergers_acquisitions_predictions_spark.engine import Engine

        self.sf_dir = ctx.path("star")
        gen.star_schema(ctx.seed, ctx.sizes.star_sf, self.sf_dir)
        self.eng = Engine(ctx.spark, self.sf_dir)
        self.items_per_op = len(REGISTRY_MIX)

    def finish(self, ctx) -> None:
        """Each query against its registered DuckDB oracle, once per
        run, after the timed passes."""
        import duckdb
        import pandas as pd

        from mergers_acquisitions_predictions_spark.plans import ORACLES
        from mergers_acquisitions_predictions_spark.sources.readers import TABLES

        con = duckdb.connect()
        con.execute(f"SET temp_directory = '{ctx.path('duckdb')}'")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")

        def norm(df):
            df = df.reindex(sorted(df.columns), axis=1)
            if len(df):
                df = df.sort_values(list(df.columns), na_position="first")
            return df.reset_index(drop=True)

        for name in REGISTRY_MIX:
            got = norm(self.eng.run(name).toPandas())
            want = norm(con.execute(ORACLES[name]).df())
            try:
                pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
                same = True
            except AssertionError:
                same = False
            ctx.expect(f"{name} matches its DuckDB oracle", same, True)
        con.close()

    def op(self, ctx) -> dict:
        span = ctx.tracer.span
        for name in REGISTRY_MIX:
            code = name.split("_", 1)[0]
            with span(f"plans.{code}.build"):
                df = self.eng.run(name)
            with span(f"plans.{code}.exec"):
                df.write.format("noop").mode("overwrite").save()
        return {}

    def layer_metrics(self, ctx, totals: dict, n_ops: int) -> dict:
        m = {}
        for name in REGISTRY_MIX:
            code = name.split("_", 1)[0]
            b = totals.get(f"plans.{code}.build", (0.0, 0))
            e = totals.get(f"plans.{code}.exec", (0.0, 0))
            m[f"plans.{code}.build_s"] = b[0] / n_ops
            m[f"plans.{code}.exec_s"] = e[0] / n_ops
            m[f"plans.{code}.jobs"] = (b[1] + e[1]) / n_ops
        return m

    def report(self, ctx, ops: list[float]) -> dict:
        return {"registry_total_s": (statistics.median(ops), "s")}


WORKLOADS = {w.name: w for w in (PaperPipeline, IngestWhileServing, RegistryMix)}
