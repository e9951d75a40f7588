"""The benchmark workloads: inputs, the timed operation, the output
checks, and the traced layer-by-layer pass.

Each workload drives the engine through its public API only. One closed-loop
caller runs the operation repeatedly; the next operation starts only after
the previous one has committed (KG workloads) or been collected (dedup).
"""

from __future__ import annotations

import os
import re
import shutil
import time
from dataclasses import replace

import pyarrow as pa
import pyarrow.parquet as pq

import gen
from ledger import Spans

_SENT = re.compile(r"(?<=[.!?])\s+")

EDGE_COLS = ["src_name", "src_label", "pred", "dst_name", "dst_label",
             "t_obs", "t_start", "t_end", "atomic_facts"]


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def edge_digest(edges) -> tuple:
    """Order-free digest of a canonical edge table: (rows, sum of row
    hashes) — equal tables give equal digests in any partitioning."""
    from pyspark.sql import functions as F

    r = edges.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64(*EDGE_COLS).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(r["n"]), str(r["h"])


class Workload:
    """Subclasses fill in `generate`, `materialise`, `op`,
    `check`, `traced_pass`, `traced_check` and `probe`. `op` returns (step
    seconds, artefact); `check` returns the failed output checks of an
    artefact and `reset` undoes what the operation wrote. The traced pass
    records a few private engine functions (`_driver_resolve`,
    `_driver_union_find`, `_resolve_both_driver`) only to count and span
    them; the timed operation calls public API alone."""

    name = ""
    batches_per_op = 1

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.inputs = os.path.join(work, "in")
        self.n_ops = 0

    def fresh_dir(self, kind: str) -> str:
        self.n_ops += 1
        d = os.path.join(self.work, kind, str(self.n_ops))
        shutil.rmtree(d, ignore_errors=True)
        return d

    def oracle(self):
        """Compute expected outputs once per run, after set-up (untimed)."""

    def reset(self, artefact):
        pass

    def post_reduce(self, counts: dict, table: dict, rec: dict):
        pass

    def write_table(self, cols: dict, name: str) -> str:
        path = os.path.join(self.inputs, f"{name}.parquet")
        os.makedirs(self.inputs, exist_ok=True)
        pq.write_table(pa.table(cols), path)
        return path


# ---------------------------------------------------------------- KG -------
class KGIncrementalWide(Workload):
    """Sequential run_batch calls into one new store, over a wide
    vocabulary.

    The driver budget (MatchConfig.driver_matrix_bytes) stands in for a
    memory-constrained driver. The first, small batch lands in the empty
    store under that budget, so it commits on the fresh-batch driver path;
    the second batch plus the stored entities are over it, so it resolves
    distributed (candidate scoring, best-link window, components). Each
    operation builds its own store and `reset` deletes it.
    """

    name = "kg_incremental_wide"
    BATCH_PAGES = (200, 500)
    N_PERSONS = 30_000
    N_ORGS = 3_000
    # 64 MiB n x n budget -> sqrt(64 MiB / 8 B) = 2,896 driver items
    DRIVER_MATRIX_BYTES = 64 << 20

    def pipeline_config(self):
        from itext2kg_spark.config import ATOM

        return replace(ATOM, match=replace(
            ATOM.match, driver_matrix_bytes=self.DRIVER_MATRIX_BYTES))

    def generate(self):
        persons, orgs = gen.grammar_vocab(self.seed, self.N_PERSONS, self.N_ORGS)
        first = 0
        self.batches = []
        for n in self.BATCH_PAGES:
            self.batches.append(
                gen.grammar_pages(self.seed, n, persons, orgs, first_id=first))
            first += n

    def materialise(self, spark):
        from itext2kg_spark.pipeline import KGPipeline

        self.paths = [self.write_table(b, f"batch{i}")
                      for i, b in enumerate(self.batches)]
        self.pipe = KGPipeline(self.pipeline_config())
        self.pages = [spark.read.parquet(p) for p in self.paths]

    @property
    def n_docs(self) -> int:
        return sum(len(b["url"]) for b in self.batches)

    @property
    def batches_per_op(self) -> int:
        return len(self.batches)

    def expected_mentions(self) -> int:
        # every generated sentence is one grammar fact -> one quintuple
        return sum(
            len([s for s in _SENT.split(t) if s.strip()])
            for b in self.batches for t in b["text"]
        )

    def op(self, spark):
        from itext2kg_spark.sources.store import KGStore

        store = KGStore(self.fresh_dir("stores"))
        steps = []
        for p in self.pages:
            t0 = time.perf_counter()
            self.pipe.run_batch(p, store)
            steps.append(time.perf_counter() - t0)
        return steps, store

    def reset(self, store):
        shutil.rmtree(store.root)

    def check(self, spark, store) -> list[str]:
        """Output checks; returns the failed ones (empty when correct)."""
        from pyspark.sql import functions as F

        bad = []
        if store.committed_batches() != list(range(len(self.pages))):
            bad.append(f"batch ids {store.committed_batches()}")
        ents, edges = store.load(spark)
        mentions = edges.agg(F.sum(F.size("t_obs"))).first()[0] or 0
        if mentions != self.expected_mentions():
            bad.append(f"mentions {mentions} != {self.expected_mentions()}")
        keys = ents.select("name", "label")
        for side in ("src", "dst"):
            dangling = edges.join(
                keys.withColumnRenamed("name", f"{side}_name")
                .withColumnRenamed("label", f"{side}_label"),
                [f"{side}_name", f"{side}_label"], "left_anti",
            ).count()
            if dangling:
                bad.append(f"{dangling} {side} endpoints without entity")
        digest = edge_digest(edges)
        if getattr(self, "digest", None) is None:
            self.digest = digest
        elif digest != self.digest:
            bad.append(f"edge digest {digest} != {self.digest}")
        return bad

    # ---- traced pass -------------------------------------------------------
    def traced_pass(self, spark, spans: Spans) -> dict:
        """run_batch taken apart into its layer calls, each layer's output
        materialised before the next call; returns probe handles."""
        import itext2kg_spark.merge.components as comp_mod
        import itext2kg_spark.merge.kg as kg_mod
        import itext2kg_spark.merge.resolve as res_mod
        from itext2kg_spark.extract.distill import distill_pages
        from itext2kg_spark.extract.facts import split_atomic_facts
        from itext2kg_spark.extract.quintuples import (
            extract_quintuples_vectorized,
        )
        from itext2kg_spark.functions.timeparse import (
            parse_timestamp_array_columns,
        )
        from itext2kg_spark.merge.kg import canonicalize_kg
        from itext2kg_spark.pipeline import partition_lineage
        from itext2kg_spark.sources.store import KGStore
        from pyspark.sql import functions as F

        rec = {"driver_items": [], "cand_calls": [], "uf_edges": 0,
               "cc_calls": 0, "facts": [], "quints": [], "ents": None,
               "store": None, "snap_bytes": 0, "batch": 0}

        def record_driver(args, kwargs, out):
            rec["driver_items"].append(
                (rec["batch"], list(args[1]), len(args[0])))

        def record_cand(args, kwargs, out):
            rec["cand_calls"].append((rec["batch"], args, kwargs))

        def record_uf(args, kwargs, out):
            rec["uf_edges"] += len(args[0])

        def record_cc(args, kwargs, out):
            rec["cc_calls"] += 1

        undo = [
            spans.wrap(kg_mod, "resolve_items", "merge.resolve"),
            spans.wrap(kg_mod, "_resolve_both_driver", "merge.resolve"),
            spans.wrap(res_mod, "candidate_pairs", "merge.candidates",
                       record_cand),
            spans.wrap(res_mod, "connected_components", "merge.components",
                       record_cc),
            spans.wrap(res_mod, "_driver_resolve", None, record_driver),
            spans.wrap(comp_mod, "_driver_union_find", None, record_uf),
        ]
        cfg = self.pipe.cfg
        store = KGStore(self.fresh_dir("stores"))
        rec["store"] = store
        try:
            for rec["batch"], pages in enumerate(self.pages):
                with spans.span("sources.store", root=True, tag="load"):
                    existing = store.load(spark)
                ents_prev, edges_prev = existing if existing else (None, None)
                with spans.span("extract.distill", root=True):
                    d = distill_pages(pages).localCheckpoint()
                with spans.span("extract.facts", root=True):
                    f = split_atomic_facts(d).localCheckpoint()
                with spans.span("extract.quintuples", root=True):
                    q = extract_quintuples_vectorized(f).localCheckpoint()
                with spans.span("functions.timeparse", root=True):
                    parse_timestamp_array_columns(
                        q, ["t_start", "t_end"]).localCheckpoint()
                with spans.span("merge.kg", root=True, refine=True):
                    ents, edges = canonicalize_kg(
                        q, cfg, self.pipe.embedder, ents_prev, edges_prev)
                    ents = ents.localCheckpoint()
                    edges = edges.localCheckpoint()
                batch_id = store.next_batch_id()
                with spans.span("sources.store", root=True, refine=True,
                                tag="write"):
                    store.write_snapshot(
                        batch_id, ents, edges,
                        metrics={"n_pages": pages.count()},
                        lineage=partition_lineage(pages).withColumn(
                            "batch_id", F.lit(batch_id)),
                    )
                rec["snap_bytes"] += dir_bytes(store._snap_dir(batch_id))
                rec["facts"].append(f)
                rec["quints"].append(q)
                rec["ents"] = ents
        finally:
            for u in undo:
                u()
        return rec

    def traced_check(self, spark, rec: dict) -> list[str]:
        return self.check(spark, rec["store"])

    def post_reduce(self, counts: dict, table: dict, rec: dict):
        # distributed label propagation: 4 set-up jobs per call, 2 per round
        if rec["cc_calls"] and not rec["uf_edges"]:
            jobs = table["merge.components"]["jobs"]
            counts["merge.components.iterations"] = max(
                0.0, (jobs - 4 * rec["cc_calls"]) / 2)

    def probe(self, spark, rec: dict, spans: list[dict]) -> dict:
        """Layer counts of a traced pass, computed after it (untimed)."""
        from itext2kg_spark.functions.timeparse import parse_timestamp_array
        from itext2kg_spark.merge.candidates import candidate_pairs
        from pyspark.sql import functions as F

        out = {}
        n_facts = sum(f.count() for f in rec["facts"])
        n_quints = sum(q.count() for q in rec["quints"])
        out["extract.quintuples.yield"] = n_quints / max(n_facts, 1)
        elems = misses = 0
        for q in rec["quints"]:
            r = q.agg(*[
                F.sum(F.size(c)).alias(f"n_{c}") for c in ("t_start", "t_end")
            ], *[
                F.sum(F.size(c) - F.size(parse_timestamp_array(
                    F.col(c), use_dateutil_fallback=False))).alias(f"m_{c}")
                for c in ("t_start", "t_end")
            ]).first()
            elems += (r["n_t_start"] or 0) + (r["n_t_end"] or 0)
            misses += (r["m_t_start"] or 0) + (r["m_t_end"] or 0)
        out["functions.timeparse.fast_miss_frac"] = misses / max(elems, 1)

        # entity items the last batch resolved (its batch plus the store)
        last = rec["batch"]
        ent_items = sum(n for b, keys, n in rec["driver_items"]
                        if b == last and "label" in keys)
        items = driver_items = sum(n for _, _, n in rec["driver_items"])
        scored = kept = 0
        for b, args, kwargs in rec["cand_calls"]:
            cand_in = args[0]
            n = kwargs.get("n_items") or cand_in.count()
            items += n
            if b == last and "label" in cand_in.columns:
                ent_items += n
            e = (cand_in.where("is_existing").count()
                 if "is_existing" in cand_in.columns else 0)
            scored += n * (n - 1) // 2 - e * (e - 1) // 2
            kept += candidate_pairs(*args, **kwargs).count()
        out["merge.resolve.items"] = items
        out["merge.resolve.distributed"] = 1 if rec["cand_calls"] else 0
        out["merge.resolve.driver_items"] = driver_items
        out["merge.candidates.pairs_scored"] = scored
        out["merge.candidates.pairs_kept"] = kept
        out["merge.candidates.keep_ratio"] = kept / scored if scored else 0.0
        out["merge.components.edges_in"] = rec["uf_edges"]
        out["merge.components.iterations"] = 0.0
        canon = rec["ents"].count()
        out["merge.kg.merge_ratio"] = canon / max(ent_items, 1)
        by_tag = {"load": 0.0, "write": 0.0}
        for s in spans:
            if s["name"] == "sources.store":
                by_tag[s["tag"]] += (s["end"] - s["start"]) / 1000.0
        out["sources.store.load_s"] = by_tag["load"]
        out["sources.store.write_s"] = by_tag["write"]
        out["sources.store.bytes_written"] = rec["snap_bytes"]
        store = rec["store"]
        last = store.last_committed()
        _, edges = store.load(spark)
        out["sources.store.bytes_per_edge"] = dir_bytes(
            store._snap_dir(last)) / max(edges.count(), 1)
        return out


# ------------------------------------------------------------ dedup -------
class CorpusDedup(Workload):
    """prepare_corpus (filters, exact dedup, MinHash near-dup keep-one) then
    exact jaccard_pairs over a generated web-text corpus."""

    name = "corpus_dedup"
    N_DOCS = 2000
    PREP = dict(langs=("en",), min_tokens=20, min_quality_10k=4500,
                near_dup_threshold=0.8)

    def generate(self):
        self.docs = gen.web_docs(self.seed, self.N_DOCS)

    @property
    def n_docs(self) -> int:
        return self.N_DOCS

    def materialise(self, spark):
        self.path = self.write_table(self.docs, "docs")
        self.frame = spark.read.parquet(self.path)

    def oracle(self):
        """Expected outputs, from the DuckDB oracle SQL the engine's driver
        queries are checked against; computed once per run, untimed.

        Pairs: the exact-Jaccard oracle over the whole corpus. Survivors:
        the oracle's filtered and exact-deduplicated set, minus every
        document that an exact-Jaccard pair among those documents links to a
        smaller id (the keep-one rule `prepare_corpus` applies)."""
        import duckdb

        from __spark_entry__ import oracle_sql

        sql = oracle_sql()
        # the shared filter + exact-dedup chain of the corpus_prepare oracle
        kept_cte = sql["corpus_prepare"].split(",\nt2 AS")[0]
        with duckdb.connect() as con:
            con.register("documents", pa.table(self.docs))
            self.want_pairs = set(map(tuple, con.execute(sql["dedup_ngram"]).fetchall()))
            kept = con.execute(
                kept_cte + "\nSELECT doc_id, text,"
                " (SELECT count(*) FROM filt) AS n_filt FROM kept").arrow()
        self.n_filtered = kept.column("n_filt")[0].as_py() if len(kept) else 0
        kept = kept.select(["doc_id", "text"])
        with duckdb.connect() as con:
            con.register("documents", kept)
            kept_pairs = con.execute(sql["dedup_ngram"]).fetchall()
        parent = {}

        def find(x):
            while parent.get(x, x) != x:
                x = parent[x]
            return x

        for a, b, _ in kept_pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        self.want_surv = {
            i for i in kept.column("doc_id").to_pylist() if find(i) == i}

    def op(self, spark):
        """prepare_corpus, then jaccard_pairs; steps are their seconds."""
        from itext2kg_spark.corpus import prepare_corpus
        from itext2kg_spark.dedup.ngram import jaccard_pairs

        t0 = time.perf_counter()
        surv = prepare_corpus(self.frame, **self.PREP).select("doc_id").collect()
        t1 = time.perf_counter()
        pairs = jaccard_pairs(self.frame, threshold=0.8, n=3).collect()
        return [t1 - t0, time.perf_counter() - t1], (surv, pairs)

    def check(self, spark, out) -> list[str]:
        surv, pairs = out
        bad = []
        got_pairs = {tuple(r) for r in pairs}
        if got_pairs != self.want_pairs:
            bad.append(f"pairs: {len(got_pairs ^ self.want_pairs)} differ")
        got_surv = {r[0] for r in surv}
        if got_surv != self.want_surv:
            bad.append(f"survivors: {len(got_surv ^ self.want_surv)} differ")
        return bad

    def traced_pass(self, spark, spans: Spans) -> dict:
        import itext2kg_spark.dedup.minhash as mh_mod
        from itext2kg_spark.corpus import prepare_corpus
        from itext2kg_spark.dedup.clusters import near_dup_clusters
        from itext2kg_spark.dedup.minhash import minhash_lsh_pairs
        from itext2kg_spark.dedup.ngram import jaccard_pairs
        from pyspark.sql import functions as F

        rec = {}

        def record_grams(args, kwargs, out):
            rec["cand_grams"] = kwargs["grams"]

        undo = spans.wrap(mh_mod, "jaccard_pairs", None, record_grams)
        prep = dict(self.PREP)
        thr = prep.pop("near_dup_threshold")
        try:
            with spans.span("corpus", root=True, refine=True):
                kept = prepare_corpus(
                    self.frame, near_dup_threshold=None, **prep
                ).localCheckpoint()
            with spans.span("dedup.minhash", root=True, refine=True):
                mp = minhash_lsh_pairs(kept, threshold=thr, n=3).localCheckpoint()
            with spans.span("merge.components", root=True, refine=True):
                clusters = near_dup_clusters(kept, pairs=mp).localCheckpoint()
            with spans.span("corpus", root=True, refine=True):
                surv = kept.join(
                    clusters.where(F.col("doc_id") == F.col("rep_id")),
                    "doc_id", "left_semi",
                ).select("doc_id").collect()
            with spans.span("dedup.ngram", root=True, refine=True):
                pairs = jaccard_pairs(self.frame, threshold=0.8, n=3).collect()
        finally:
            undo()
        rec.update(kept=kept, mp=mp, surv=surv, pairs=pairs)
        return rec

    def traced_check(self, spark, rec: dict) -> list[str]:
        return self.check(spark, (rec["surv"], rec["pairs"]))

    def probe(self, spark, rec: dict, spans: list[dict]) -> dict:
        from itext2kg_spark.dedup.ngram import word_ngrams
        from pyspark.sql import functions as F

        n_kept = rec["kept"].count()
        cand = rec["cand_grams"].select("id").distinct().count()
        verified = (rec["mp"].select(F.col("id_a").alias("id"))
                    .union(rec["mp"].select(F.col("id_b").alias("id")))
                    .distinct().count())
        return {
            "dedup.ngram.gram_rows": word_ngrams(self.frame, 3).count(),
            "dedup.ngram.pair_rows": len(rec["pairs"]),
            "dedup.minhash.candidates": cand,
            "dedup.minhash.verified": verified,
            "dedup.minhash.precision": verified / cand if cand else 0.0,
            "corpus.exact_dropped": self.n_filtered - n_kept,
            "corpus.near_dup_dropped": n_kept - len(rec["surv"]),
        }


WORKLOADS = {w.name: w for w in (KGIncrementalWide, CorpusDedup)}
