"""The four workloads: inputs made from the seed, the timed operations and
the correctness checks on every output.

Each workload runs a fixed list of op kinds per unit (one op, or in
kbfree_append one append and one full recompute). `setup` builds the
inputs the ops read, `prepare_checks` builds what the checks compare
against, `op` runs one op and returns its materialized output, and `check`
returns the list of failed checks for that output (empty when correct).
"""

from __future__ import annotations

import os
import random
import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import StorageLevel
from pyspark.sql import functions as F

from blink_reloaded_spark import datagen, queries
from blink_reloaded_spark.eval import pairwise_f1
from blink_reloaded_spark.functions.hashing import xxhash64_mod
from blink_reloaded_spark.operators.mentions import extract_mentions
from blink_reloaded_spark.plans.pipeline import LinkagePipeline

F1_GATE = 0.99
ANN_RECALL_GATE = 0.8
# mentions in the seeded gold sample the labeled pairs are drawn from
F1_SAMPLE = 1_000


def materialize(df, span=None):
    """Compute `df` once and keep it: the op's output, read by the checks.
    With a span (traced runs), its row count is recorded as rows_out."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    n = df.count()
    if span is not None:
        span["counts"]["rows_out"] = n
    return df


def fingerprint(df, a: str = "node", b: str = "component") -> tuple[int, int]:
    """Order-independent (row count, summed xxhash64(a, b))."""
    row = df.agg(
        F.count("*").alias("n"),
        F.coalesce(
            F.sum(F.xxhash64(a, b).cast("decimal(38,0)")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _transcripts(spark, cat, n_convs: int):
    tr, gold = datagen.generate_transcripts(
        spark, cat, n_convs=n_convs, turns_per_conv=25, hot_conv_factor=100
    )
    tr = tr.select("conv_id", "turn_idx", "text").localCheckpoint(eager=True)
    return tr, gold


def _gold_checks(gold, extracted, cat, seed: int):
    """FIXTURES F4 labeled pairs over a seeded sample of gold mentions (the
    pairs that share the 2-char prefix blocking key, each mention mapped to
    its extracted mention id on (conv_id, turn_idx, start_pos)), and the
    gold input properties. Built in pandas from two collected frames: the
    Spark plans this would take cost more to compile than to run."""
    key = ["conv_id", "turn_idx", "start_pos"]
    g = gold.select(*key, "label_id", "mention").toPandas()
    ids = extracted.select(*key, "mention_id").toPandas()
    rng = np.random.default_rng(seed)
    sample = g.iloc[rng.choice(len(g), size=min(F1_SAMPLE, len(g)), replace=False)]
    sample = sample.merge(ids, on=key).assign(k=lambda d: d["mention"].str[:2])
    p = sample.merge(sample, on="k", suffixes=("_a", "_b"))
    p = p[p["mention_id_a"] < p["mention_id_b"]]
    pairs = pd.DataFrame({
        "mention_a": p["mention_id_a"].to_numpy(),
        "mention_b": p["mention_id_b"].to_numpy(),
        "is_match": (
            (p["label_id_a"] == p["label_id_b"]) & (p["label_id_a"] >= 0)
        ).to_numpy(),
    })
    hot = cat.aliases[0]["surface"].lower()
    props = {
        "gold_mentions": len(g),
        "extracted_mentions": len(ids),
        "distinct_surfaces": int(g["mention"].nunique()),
        "hot_surface_share": round(float((g["mention"] == hot).mean()), 4),
        "labeled_pairs": len(pairs),
    }
    return gold.sparkSession.createDataFrame(pairs), props


class Workload:
    kinds: tuple[str, ...] = ("op",)
    warmup_units = 1  # untimed units before the measured ones

    def __init__(self, spark, seed: int, tmp: str):
        self.spark, self.seed, self.tmp = spark, seed, tmp
        self.props: dict = {}
        self.quality: dict = {}
        self.ref: dict = {}

    def inputs(self) -> list:
        """The materialized frames the ops read."""
        return []

    def rows(self) -> int:
        """Input rows one op processes (for rows_per_s)."""
        raise NotImplementedError

    def release(self, out) -> None:
        out.unpersist()


class _Link(Workload):
    """KB linkage: the op is LinkagePipeline.run, checked against gold."""

    n_entities = 200
    n_convs = 0
    # pre-extracted mentions the op reads, or None when the op extracts
    mentions = None

    def setup(self) -> None:
        self.cat = datagen.EntityCatalog.build(n_entities=self.n_entities, seed=self.seed)
        self.surfaces = [a["surface"] for a in self.cat.aliases]
        self.tr, self.gold = _transcripts(self.spark, self.cat, self.n_convs)
        self.n_turns = self.tr.count()
        self.entities = self.cat.entities_df(self.spark)  # a local relation

    def inputs(self) -> list:
        return [self.tr, self.entities]

    def rows(self) -> int:
        return self.n_turns

    def prepare_checks(self) -> None:
        extracted = self.mentions
        if extracted is None:
            extracted = extract_mentions(
                self.tr, self.surfaces, with_context=False
            ).localCheckpoint(eager=True)
        self.pairs, gold_props = _gold_checks(self.gold, extracted, self.cat, self.seed)
        self.props = {
            "turns": self.n_turns,
            "entities": self.n_entities,
            "aliases": len(self.surfaces),
            **gold_props,
        }

    def check(self, kind: str, out) -> list[str]:
        fp = fingerprint(out)
        if "fingerprint" not in self.ref:
            self.ref["fingerprint"] = fp
            self.quality = pairwise_f1(out, self.pairs)
        bad = []
        if fp != self.ref["fingerprint"]:
            bad.append(f"fingerprint {fp} != {self.ref['fingerprint']}")
        if self.quality["f1"] < F1_GATE:
            bad.append(f"pairwise F1 {self.quality['f1']:.4f} < {F1_GATE}")
        return bad


class LinkHot(_Link):
    """7.5k turns, 200 entities, a 30% hot surface and one hot conversation.
    The op's wall barely depends on the turn count at this size (per-op
    fixed cost dominates), so the inputs are small to keep set-up short."""

    n_convs = 200

    def op(self, kind, trace):
        with trace.span("plans.pipeline") as span:
            pipe = LinkagePipeline(self.spark, collect_metrics=False)
            out = pipe.run(self.tr, self.entities, surfaces=self.surfaces)
            return materialize(out, span)


class LinkWideCatalog(_Link):
    """20k entities with mentions pre-extracted in setup: the purge and the
    top-16 candidate budget engage, candidates and scorer UDFs dominate."""

    n_entities = 20_000
    n_convs = 400

    def setup(self) -> None:
        super().setup()
        self.mentions = extract_mentions(
            self.tr, self.surfaces, with_context=False
        ).localCheckpoint(eager=True)

    def inputs(self) -> list:
        return [*super().inputs(), self.mentions]

    def op(self, kind, trace):
        with trace.span("plans.pipeline") as span:
            pipe = LinkagePipeline.tuned(self.spark, self.n_entities, collect_metrics=False)
            out = pipe.run(self.tr, self.entities, mentions=self.mentions)
            return materialize(out, span)


class KbFreeAppend(Workload):
    """90/10 split by conversation hash; the base state is built in setup.
    Ops alternate a guarded delta append and a full run_kb_free."""

    kinds = ("recompute", "append")
    n_convs = 500

    def setup(self) -> None:
        spark = self.spark
        self.cat = datagen.EntityCatalog.build(n_entities=200, seed=self.seed)
        self.surfaces = [a["surface"] for a in self.cat.aliases]
        self.tr, self.gold = _transcripts(spark, self.cat, self.n_convs)
        in_delta = F.pmod(F.crc32("conv_id"), F.lit(10)) == 0
        self.tr_delta = self.tr.where(in_delta).localCheckpoint(eager=True)
        tr_base = self.tr.where(~in_delta)
        m_base = extract_mentions(tr_base, self.surfaces, with_context=False)
        pipe = LinkagePipeline(spark, collect_metrics=False)
        self.state = LinkagePipeline.cluster_state(
            pipe.run_kb_free(None, mentions=m_base), m_base
        ).localCheckpoint(eager=True)
        self.surf_state = LinkagePipeline.surface_cluster_state(
            self.state
        ).localCheckpoint(eager=True)
        self.n_turns = self.tr.count()
        self.n_delta = self.tr_delta.count()

    def inputs(self) -> list:
        return [self.tr, self.tr_delta, self.state, self.surf_state]

    def rows(self) -> int:
        return self.n_delta

    def prepare_checks(self) -> None:
        extracted = extract_mentions(
            self.tr, self.surfaces, with_context=False
        ).localCheckpoint(eager=True)
        self.pairs, gold_props = _gold_checks(self.gold, extracted, self.cat, self.seed)
        self.props = {
            "turns": self.n_turns,
            "delta_turns": self.n_delta,
            "delta_fraction": round(self.n_delta / self.n_turns, 4),
            "entities": 200,
            "state_rows": self.state.count(),
            **gold_props,
        }

    def op(self, kind, trace):
        with trace.span("plans.pipeline") as span:
            self.pipe = LinkagePipeline(self.spark, collect_metrics=False)
            if kind == "recompute":
                out = self.pipe.run_kb_free(self.tr, surfaces=self.surfaces)
            else:
                out = self.pipe.run_kb_free_append(
                    self.tr_delta, self.state, surfaces=self.surfaces,
                    output="delta", surface_state=self.surf_state,
                )
            return materialize(out, span)

    def check(self, kind: str, out) -> list[str]:
        bad = []
        if kind == "recompute":
            fp = fingerprint(out)
            if "recompute" not in self.ref:
                self.ref["recompute"] = fp
                self.quality = pairwise_f1(out, self.pairs)
            if fp != self.ref["recompute"]:
                bad.append(f"recompute fingerprint {fp} != {self.ref['recompute']}")
            return bad
        capped = self.pipe.metrics.get("append_capped_old_blocks")
        if capped != 0:
            bad.append(f"append_capped_old_blocks = {capped}")
        state = self.state.select(
            F.col("mention_id").alias("node"), F.col("cluster_id").alias("component")
        )
        applied = state.join(out, "node", "left_anti").unionByName(out)
        fp = fingerprint(applied)
        # each unit runs the recompute first, so the reference is set
        if fp != self.ref["recompute"]:
            bad.append(f"upsert applied to state {fp} != recompute {self.ref['recompute']}")
        return bad


_WORDS = (
    "spark sort scan agg part line column order small fast value hash slow "
    "group batch filter query key window row table stream merge data big "
    "vector join customer the a"
).split()


def write_corpus(
    path: str, seed: int, n_docs: int, n_vecs: int, dim: int
) -> tuple[list[str], np.ndarray, dict]:
    """Seeded documents and embeddings in the schema of the repo's test
    data: random-word documents with planted near-duplicates, and
    embeddings drawn around labeled cluster centres. A near-duplicate is a
    copy of an earlier original of at least 60 words, each copied once,
    with one letter changed: its 5-gram Jaccard is >= 0.95, where dedup03's
    LSH miss probability is ~1e-5 (the test data's duplicates are >= 0.93)."""
    rng = np.random.default_rng(seed)
    pyr = random.Random(seed)
    texts: list[str] = []
    originals: list[str] = []  # long enough to copy, not copied yet
    n_originals = 0
    for _ in range(n_docs):
        if originals and pyr.random() < 0.1:
            src = originals.pop(pyr.randrange(len(originals)))
            pos = pyr.randrange(5, len(src) - 5)
            letter = pyr.choice([c for c in "etaoinsr" if c != src[pos]])
            text = src[:pos] + letter + src[pos + 1:] if src[pos] != " " else src + " a"
        else:
            n_words = pyr.randint(12, 80)
            text = " ".join(pyr.choice(_WORDS) for _ in range(n_words))
            if n_words >= 60:
                originals.append(text)
            n_originals += 1
        texts.append(text)
    n_dups = n_docs - n_originals
    docs = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [pyr.choice(["en", "de", "zh"]) for _ in range(n_docs)],
        "source": [f"src{i % 5}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    n_labels = 40
    centres = rng.normal(size=(n_labels, dim))
    labels = rng.integers(0, n_labels, n_vecs)
    vecs = centres[labels] + 2.0 * rng.normal(size=(n_vecs, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    os.makedirs(path, exist_ok=True)
    pq.write_table(docs, os.path.join(path, "documents.parquet"))
    pq.write_table(emb, os.path.join(path, "embeddings.parquet"))
    return texts, vecs, {
        "documents": n_docs, "planted_near_dups": n_dups, "vectors": n_vecs,
    }


def exact_near_dups(texts: list[str]) -> set[tuple[int, int]]:
    """The pairs `queries.dedup02_ngram_jaccard` returns, by an independent
    computation: distinct 5-char shingles of the normalized text (lower,
    trim, whitespace runs collapsed; the generated corpus is ASCII), and
    Jaccard rounded to 6 places >= DEDUP_TAU, from one dense
    shingle-incidence matrix product instead of a shingle self-join."""
    sets = []
    for t in texts:
        s = re.sub(r"\s+", " ", t).strip().lower()
        sets.append({s[i:i + 5] for i in range(max(len(s) - 4, 1))})
    vocab = {x: i for i, x in enumerate(set().union(*sets))}
    inc = np.zeros((len(sets), len(vocab)), np.float32)
    for i, sh in enumerate(sets):
        inc[i, [vocab[x] for x in sh]] = 1.0
    inter = (inc @ inc.T).astype(np.float64)  # exact: counts < 2**24
    size = inc.sum(axis=1, dtype=np.float64)
    jacc = np.round(inter / (size[:, None] + size[None, :] - inter), 6)
    a, b = np.nonzero(np.triu(jacc >= queries.DEDUP_TAU, k=1))
    return set(zip(a.tolist(), b.tolist()))


def exact_top_k(vecs: np.ndarray, n_query: int, k: int) -> set[tuple[int, int]]:
    """(qid, nid) of ann01's exact cosine top-k for the first `n_query`
    vectors (ids are positions; ties go to the lower nid, as in ann01)."""
    v = vecs.astype(np.float32).astype(np.float64)  # the stored values
    unit = v / np.linalg.norm(v, axis=1, keepdims=True)
    cos = unit[:n_query] @ unit.T
    out = set()
    for q in range(n_query):
        cos[q, q] = -np.inf
        order = np.lexsort((np.arange(len(v)), -cos[q]))
        out.update((q, int(n)) for n in order[:k])
    return out


class CorpusDedupAnn(Workload):
    """dedup03 on both hash paths plus ann05 over a seeded corpus: the only
    workload that runs the queries layer."""

    n_docs = 1_000
    n_vecs = 1_000
    # the first op here is ~3x a warm one, and the JIT still compiles
    # through the second: its CPU is ~1.6x the fourth op's
    warmup_units = 2

    def setup(self) -> None:
        self.dir = os.path.join(self.tmp, "corpus")
        self.texts, self.vecs, self.props = write_corpus(
            self.dir, self.seed, self.n_docs, self.n_vecs, queries.EMB_DIM
        )

    def rows(self) -> int:
        return self.n_docs + self.n_vecs

    def prepare_checks(self) -> None:
        self.exact_pairs = exact_near_dups(self.texts)  # doc_id == position
        self.exact_ann = exact_top_k(self.vecs, queries.ANN_NQUERY, queries.ANN_K)
        self.props["exact_near_dup_pairs"] = len(self.exact_pairs)

    def op(self, kind, trace):
        spark, d = self.spark, self.dir
        out = {}
        with trace.span("queries.dedup03_minhash_lsh") as span:
            out["poly"] = materialize(queries.dedup03_minhash_lsh(spark, d), span)
        with trace.span("queries.dedup03_minhash_lsh_xxh") as span:
            out["xxh"] = materialize(
                queries.dedup03_minhash_lsh(spark, d, hash_fn=xxhash64_mod), span
            )
        with trace.span("queries.ann05_multitable_lsh") as span:
            out["ann"] = materialize(queries.ann05_multitable_lsh(spark, d), span)
        return out

    def check(self, kind: str, out) -> list[str]:
        bad = []
        poly = {tuple(r) for r in out["poly"].collect()}
        if poly != {tuple(r) for r in out["xxh"].collect()}:
            bad.append("dedup03 poly and xxh outputs differ")
        found = {(a, b) for a, b, _ in poly}
        tp = len(found & self.exact_pairs)
        p = tp / len(found) if found else 1.0
        r = tp / len(self.exact_pairs) if self.exact_pairs else 1.0
        found = {(q, n) for q, n in out["ann"].select("qid", "nid").collect()}
        recall = len(found & self.exact_ann) / len(self.exact_ann)
        self.quality = {
            "f1": 2 * p * r / (p + r) if p + r else 0.0,
            "precision": p,
            "recall": r,
            "ann_recall_at_5": recall,
        }
        if recall < ANN_RECALL_GATE:
            bad.append(f"ann05 recall@5 {recall} < {ANN_RECALL_GATE}")
        return bad

    def release(self, out) -> None:
        for df in out.values():
            df.unpersist()


WORKLOADS = {
    "link_hot": LinkHot,
    "link_wide_catalog": LinkWideCatalog,
    "kbfree_append": KbFreeAppend,
    "corpus_dedup_ann": CorpusDedupAnn,
}
