"""The flagship end-to-end linkage pipeline (SURVEY.md §7.1), each stage an
idempotent checkpointed job:

  1. mentions    — token-hash dictionary extraction from transcripts (U1)
  2. surfaces    — dedup to DISTINCT surfaces + hashed trigram encoding (U2/U3)
  3. candidates  — LSH blocking keys; surface⋈entity equi-join (J7/J8)
  4. links       — one fused Arrow-batched scorer UDF (jw + survivor cos) ->
                   per-surface argmax link carrying the surface text and
                   its min mention id (U4/W4)
  5. clusters    — the link graph is a star forest (one entity per linked
                   surface), so a component is one entity's star: one
                   window over the links labels each surface with the
                   star's min mention id; one join back onto mentions

Mirrors the reference's DAG (`examples/zeshel/README.md:11-38`, SURVEY.md
§3.3): retrieval bounds the candidate set (O2), the cross-encoder scores
pairs, argmax picks the link, and mentions sharing a predicted entity form a
cluster (§7.0) — realized here as transitive closure over accepted
mention->entity edges, with cluster ids canonicalized to the minimum mention
id (deterministic under partitioning / row order).

Scale notes:
* candidate generation is a key equi-join (linear in Σ_key |m_k|·|e_k|),
  never a mention×mention cross product;
* entity anchors live in a disjoint negative id space so mention and entity
  ids share one node domain for clustering;
* every stage checkpoint is an idempotent table -> kill/rerun resumes
  (sources/checkpoint.py), satisfying the north_rule resume requirement.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from blink_reloaded_spark.functions.embedding import hashed_embedding_udf
from blink_reloaded_spark.functions.text import tokens
from blink_reloaded_spark.operators.blocking import (
    auto_blocking_params,
    blocking_keys,
    candidate_pairs,
    mention_entity_candidates,
    purged_block_keys,
)
from blink_reloaded_spark.operators.scoring import match_edges
from blink_reloaded_spark.operators.clustering import (
    connected_components,
    star_components,
)
from blink_reloaded_spark.operators.mentions import extract_mentions
from blink_reloaded_spark.operators.scoring import (
    DEFAULT_THRESHOLD,
    link_best,
    two_phase_scored_pairs,
)
from blink_reloaded_spark.sources.checkpoint import CheckpointManager

# entity anchor ids: disjoint negative id space below -1 (NIL stays -1)
ENTITY_ID_OFFSET = -1_000_000


def _prefix_key(text_col: str) -> F.Column:
    """Cheap second key family: first token. Guarantees head-word
    abbreviation candidates ("acme" -> "acme corp") that MinHash bands can
    miss at low shingle-jaccard; hot first-token keys are handled by the
    skew machinery, not by dropping the key."""
    return F.concat(F.lit("pfx|"), F.element_at(tokens(F.col(text_col)), 1))


@dataclass
class LinkagePipeline:
    spark: SparkSession
    checkpoint_dir: str | None = None
    # recall-oriented blocking: single-row bands over 2-char shingles give
    # per-band hit prob = shingle-jaccard; 12 bands -> recall 1-(1-j)^12.
    # 2-shingles keep jaccard high under multi-token typos (j("feji inc",
    # "fejmi imnc") = 0.45 at k=2 vs 0.17 at k=3 -> miss prob 0.08% vs 11%).
    # SCALE NOTE: with a large entity catalogue the k=2 key space (~1.3k
    # distinct shingles) makes band buckets hot — use LinkagePipeline.tuned
    # (blocking.auto_blocking_params + block purging) above ~2*10^4 entities.
    bands: int = 12
    rows: int = 1
    shingle_k: int = 2
    threshold: float = DEFAULT_THRESHOLD
    max_block: int = 1000
    # entity-side block purge bound + per-mention candidate budget for the
    # KB join (None = off); set by LinkagePipeline.tuned for large
    # catalogues — see blocking.mention_entity_candidates
    max_entity_block: int | None = None
    max_candidates_per_mention: int | None = None
    max_key_pairs: int | None = None
    # counter metrics per stage (north_rule). collect_metrics=False skips the
    # per-stage count() actions — use for throughput benchmarking where the
    # extra jobs would dominate small-input wall time.
    collect_metrics: bool = True
    # mention_id width (VERDICT r2 #7): 64 = xxhash64 long (test scale);
    # 128 = double-seeded 32-char hex string, collision-safe at 10^12
    # mentions (see operators/mentions.extract_mentions ID NOTE)
    id_bits: int = 64
    # "local" = localCheckpoint (fast; pins executor memory/disk — fine on
    # local mode and short jobs); "reliable" = RDD checkpoint to
    # SparkContext's checkpoint dir (survives executor loss — the CLUSTER
    # setting, clustering.py's documented swap). When "reliable" and
    # checkpoint_dir is set, the RDD checkpoint dir is auto-derived.
    checkpoint_mode: str = "local"
    # base hash for the MinHash blocking keys. None = hashing.xxhash64_mod
    # (native JVM call — fast, and its TINY expression tree keeps the
    # blocking plan cheap for Catalyst/AQE, which re-optimizes the plan at
    # every shuffle-stage boundary; measured r3: the interpreted poly_hash
    # lambda trees put ~49s of SERIAL driver planning into the links stage
    # at a 20k-entity catalogue — core-count-independent, so it capped
    # scaling efficiency at ~0.32). Pass functions.hashing.poly_hash for
    # bit-parity with the DuckDB oracle kernels (the oracle-checked QUERIES
    # keep poly_hash; the pipeline's contract is F1, not hash values).
    blocking_hash_fn: Any = None
    # scorer vector-join strategy: None lets the planner broadcast (right
    # for small node tables); "shuffle_hash" for large catalogues, where a
    # broadcast would serialize a ~100MB+ driver build and the surface-side
    # table is unbounded at scale. Set by `tuned`. Only used when
    # cos_source="join".
    vec_join: str | None = None
    # cos term sourcing (r5, VERDICT r4 #4): "recompute" re-derives the
    # embedding dot product from the surviving pair's TEXTS (bit-identical —
    # this pipeline's vectors ARE hashed_embedding_udf(text)) and removes
    # the two vector joins + four exchanges from the links chain AND the
    # whole vec column from the surfaces stage (~1KB/row off the stage
    # checkpoint). "join" restores the stored-vector path — required if
    # hashed_embedding_udf is swapped for a real model encoder whose output
    # can't be cheaply recomputed per pair.
    cos_source: str = "recompute"
    metrics: dict[str, Any] = field(default_factory=dict)

    def _blocking_hash(self):
        if self.blocking_hash_fn is not None:
            return self.blocking_hash_fn
        from blink_reloaded_spark.functions.hashing import xxhash64_mod

        return xxhash64_mod

    def _with_node_cols(self, df: DataFrame) -> DataFrame:
        """Scorer/blocking node columns on an (id, text) frame: tokens +
        prefix key always; stored vectors only on the join cos path (the
        recompute path derives cos from pair texts — no vec column, no
        embedding pass)."""
        out = df.withColumn("tk", tokens(F.col("text"))).withColumn(
            "prefix_key", _prefix_key("text")
        )
        if self.cos_source == "join":
            out = out.withColumn("vec", hashed_embedding_udf(F.col("text")))
        return out

    def _materialize(self, df: DataFrame) -> DataFrame:
        if self.checkpoint_mode == "reliable":
            sc = self.spark.sparkContext
            if sc.getCheckpointDir() is None:
                if not self.checkpoint_dir:
                    # fail fast (ADVICE r3): df.checkpoint() without a dir
                    # crashes mid-run with a generic SparkException
                    raise ValueError(
                        "checkpoint_mode='reliable' needs checkpoint_dir= "
                        "(auto-derives the RDD checkpoint dir) or a prior "
                        "spark.sparkContext.setCheckpointDir(...)"
                    )
                sc.setCheckpointDir(self.checkpoint_dir + "/_rdd_ckpt")
            return df.checkpoint()
        # LAZY local checkpoint (r8): the SQL plan is truncated to a
        # LogicalRDD immediately (so every multi-consumer / AQE-replan
        # rationale for materializing still holds), but the RDD computes
        # inside the FIRST consuming action instead of a dedicated job —
        # an eager checkpoint per stage was a serial job barrier each
        # (~0.3-0.5s of fixed latency; run_kb_free_append paid ~6 of
        # them for a 200k-turn delta). Once computed it is cached like the
        # eager form; measured at the bench shapes: append wall 7.6-8.9 →
        # 6.4-7.0s, kb-free CPU −10%, outputs identical.
        return df.localCheckpoint(eager=False)

    @classmethod
    def tuned(
        cls, spark: SparkSession, n_catalogue: int, **overrides: Any
    ) -> "LinkagePipeline":
        """Pipeline with blocking params chosen from the entity-catalogue
        size (blocking.auto_blocking_params) and block purging enabled above
        the small-catalogue regime. Explicit kwargs override the tuning."""
        params: dict[str, Any] = dict(auto_blocking_params(n_catalogue))
        if n_catalogue >= 20_000:
            # comparison-level purge (see mention_entity_candidates for the
            # measured pairs-vs-recall curve) + the reference's top-k bound
            # (main_dense.py:252 keeps top_k=100 before the cross-encoder;
            # 16 suffices when ranked by shared-key count: measured at 20k
            # entities, pairwise F1 0.99998 at top-16 == top-64, 3.8x
            # cheaper scoring). Cap 15k (r4, was 50k): -35% candidates wall
            # AND -60% links wall at the 20k-entity shape with the pairwise
            # F1 gate unchanged — gold pairs live on their RARE shared
            # keys, so the hot-key comparisons the cap drops are almost
            # entirely non-gold (r3 curve: 50k -> blocked recall 0.9971)
            params["max_key_pairs"] = 15_000
            params["max_candidates_per_mention"] = 16
            params["vec_join"] = "shuffle_hash"
        params.update(overrides)
        return cls(spark, **params)

    def build_surfaces_from(
        self, mentions: DataFrame, entities: DataFrame
    ) -> DataFrame:
        """The surfaces node table (id, text, is_mention, surf_min, tk[,
        vec]) from (mention_id, mention) rows and the entity catalogue:
        distinct mention surfaces plus entity titles. Public so the stage
        can be timed/driven in isolation.

        ONE grouped pass over the mention set (r8): the dedup to distinct
        surfaces and the per-surface min mention id (surf_min, needed later
        for cluster-id canonicalization) share the same groupBy(mention).
        surf_min is NULL on entity rows."""
        ment_surf = (
            mentions.groupBy("mention")
            .agg(F.min("mention_id").alias("surf_min"))
            .select(
                F.xxhash64(F.lit("surf"), "mention").alias("id"),
                F.col("mention").alias("text"),
                F.lit(True).alias("is_mention"),
                "surf_min",
            )
        )
        ent_surf = entities.select(
            (F.lit(ENTITY_ID_OFFSET) - F.col("entity_id")).alias("id"),
            F.lower(F.col("title")).alias("text"),
            F.lit(False).alias("is_mention"),
            # type follows the mention id (long, or string in id_bits=128
            # mode — a hard "long" cast here corrupted the union's column
            # type for 128-bit ids)
            F.lit(None)
            .cast(mentions.schema["mention_id"].dataType)
            .alias("surf_min"),
        )
        both = ment_surf.unionByName(ent_surf)
        # tokenize ONCE per distinct surface; the scorer otherwise re-runs
        # the normalize regex several times per candidate PAIR. Stored
        # vectors only exist on the join cos path — in recompute mode
        # (default) the scorer derives cos from pair texts, so the surfaces
        # stage skips the embedding UDF pass entirely and the checkpoint
        # drops ~1KB/row.
        both = both.withColumn("tk", tokens(F.col("text")))
        if self.cos_source == "join":
            both = both.withColumn("vec", hashed_embedding_udf(F.col("text")))
        return both

    def build_candidates_from(self, surfaces_t: DataFrame) -> DataFrame:
        """Candidate (mention-surface, entity) pairs from a MATERIALIZED
        surfaces node table (id, text, is_mention, ...): blocking keys ->
        purge -> key equi-join -> top-k budget. Public so the stage can be
        timed/driven in isolation (scripts/bench_stages.py).

        Both sides are keyed in ONE pass (carry_cols=["is_mention"] rides
        the flag through the MinHash groupBy) and the combined skinny key
        table is ALWAYS materialized once: the is_mention / NOT is_mention
        split (and the purge's sizing, when on) are several consumers of
        it, and unmaterialized each would re-run the keying subtree's
        shuffle stages."""
        keyed = surfaces_t.withColumn("prefix_key", _prefix_key("text"))
        hf = self._blocking_hash()
        keys_all = self._materialize(
            blocking_keys(
                keyed,
                id_col="id", text_col="text", bands=self.bands,
                rows=self.rows, shingle_k=self.shingle_k,
                extra_key_cols=["prefix_key"], hash_fn=hf,
                carry_cols=["is_mention"],
            )
        )
        ok = None
        if self.max_entity_block is not None or self.max_key_pairs is not None:
            # one-pass purge sizing over the flagged union (r5): both sides'
            # per-key counts from a single conditional aggregation,
            # materialized once for its two semi-join consumers
            ok = self._materialize(
                purged_block_keys(
                    keys_all, self.max_entity_block, self.max_key_pairs
                )
            )
        mk = keys_all.where("is_mention").select("id", "block_key")
        ek = keys_all.where("NOT is_mention").select("id", "block_key")
        return mention_entity_candidates(
            mk,
            ek,
            max_entity_block=self.max_entity_block,
            max_candidates_per_mention=self.max_candidates_per_mention,
            max_key_pairs=self.max_key_pairs,
            materialize_keys=False,
            ok_keys=ok,
        )

    def build_links_from(
        self,
        cands: DataFrame,
        surfaces_t: DataFrame,
        assume_partitioned: bool = False,
    ) -> DataFrame:
        """Surface->entity argmax links (a, b, score, surf_text, surf_min)
        from materialized candidate pairs + the surfaces node table (which
        carries surf_min, the per-surface min mention id): two-phase scoring
        -> threshold argmax. Public for isolated stage timing.

        r5 chain shape (VERDICT r4 #4 — the links chain NEGATIVE-scaled
        because its work had shrunk to seconds while ~6 shuffle-stage
        boundaries of serial driver/AQE latency remained): the surface text
        and surf_min ride the scorer output (a_text, a_surf_min) through
        link_best's max struct, so no re-attachment join is needed, here or
        in the cluster tail; cos_source="recompute" (default) removes both
        vector joins; assume_partitioned=True (set by run() when the
        candidates checkpoint preserved its hash(a) layout) skips the
        redundant repartition and scores at the checkpoint's partition
        count, which AQE may have coalesced (one partition at small sizes).
        Net: ONE skinny post-aggregation exchange where there were six.

        No round-robin rebalance of the pair frame: per-`a` candidate
        counts are bounded by the top-k budget, so hash(a) spreads the work
        evenly (VERDICT r3 #1a)."""
        scored = two_phase_scored_pairs(
            cands,
            surfaces_t,
            threshold=self.threshold,
            argmax_prune=False,
            vec_join=self.vec_join,
            cos_source=self.cos_source,
            assume_partitioned=assume_partitioned,
            carry=["surf_min"],
        )
        best = link_best(scored, self.threshold, carry=["a_text", "a_surf_min"])
        return best.select(
            "a",
            "b",
            "score",
            F.col("a_text").alias("surf_text"),
            F.col("a_surf_min").alias("surf_min"),
        )

    def _fingerprint(self, surfaces: list[str] | None) -> str:
        """Digest of the params + surface dictionary that determine stage
        output (given the same input tables)."""
        import hashlib
        import json as _json

        src = _json.dumps(
            {
                "bands": self.bands,
                "rows": self.rows,
                "shingle_k": self.shingle_k,
                "threshold": self.threshold,
                "max_block": self.max_block,
                "max_entity_block": self.max_entity_block,
                "max_candidates_per_mention": self.max_candidates_per_mention,
                "max_key_pairs": self.max_key_pairs,
                "id_bits": self.id_bits,
                # schema-affecting: a surfaces checkpoint written without
                # stored vectors must not be resumed by a join-mode run
                "cos_source": self.cos_source,
                # 2: the surfaces checkpoint carries surf_min; 3: so does
                # the links checkpoint — an older checkpoint dir must not
                # resume into this code
                "surfaces_schema": 3,
                "blocking_hash": getattr(
                    self._blocking_hash(), "__name__", "custom"
                ),
                "surfaces": sorted(surfaces) if surfaces else None,
            },
            sort_keys=True,
        )
        return hashlib.sha256(src.encode()).hexdigest()[:16]

    def run(
        self,
        transcripts: DataFrame,
        entities: DataFrame,
        surfaces: list[str] | None = None,
        mentions: DataFrame | None = None,
    ) -> DataFrame:
        """Run end-to-end; returns (node, component) over mention ids —
        i.e. (mention_id, cluster_id), cluster ids = min mention id.

        `mentions` may be supplied directly (pre-extracted, e.g. the gold
        fixture); otherwise `surfaces` drives dictionary extraction (U1).
        """
        ckpt = (
            CheckpointManager(self.spark, self.checkpoint_dir)
            if self.checkpoint_dir
            else None
        )
        # stale-resume guard: any param/dictionary change invalidates ALL
        # stage checkpoints under this dir (the data inputs themselves are
        # the caller's identity contract — pick a fresh checkpoint_dir or
        # run_id per input snapshot)
        fingerprint = self._fingerprint(surfaces)

        import time as _time

        def stage(name: str, build, materialize: bool = True, **kw) -> DataFrame:
            t0 = _time.time()
            if ckpt:
                out = ckpt.stage(name, build, fingerprint=fingerprint, **kw)
            else:
                # no checkpoint store: still materialize each stage once —
                # downstream actions (stage metrics, CC iterations) must not
                # re-execute the upstream DAG (the scorer in particular).
                # materialize=False for a stage nothing re-consumes (the
                # final output when metrics are off): the caller's single
                # action would otherwise pay a full extra write+read.
                out = build()
                if materialize:
                    out = self._materialize(out)
            self.metrics[f"{name}_sec"] = round(_time.time() - t0, 2)
            return out

        # counter metrics are DEFERRED and collected in ONE union-of-
        # aggregates job at the end (VERDICT r2 #3: a count() per stage was
        # five job barriers of pure fixed latency; every counted frame is a
        # materialized stage checkpoint, so the single job reads cached data)
        pending_counts: list[tuple[str, DataFrame]] = []

        def count_metric(key: str, df: DataFrame) -> None:
            if self.collect_metrics:
                pending_counts.append((key, df))

        def flush_counts() -> None:
            if not pending_counts:
                return
            aggs = [
                df.agg(F.count("*").alias("n")).select(
                    F.lit(key).alias("k"), "n"
                )
                for key, df in pending_counts
            ]
            one = aggs[0]
            for a in aggs[1:]:
                one = one.unionByName(a)
            for r in one.collect():
                self.metrics[r["k"]] = r["n"]

        # -- 1. mentions ----------------------------------------------------
        def build_mentions() -> DataFrame:
            if mentions is not None:
                m_full = mentions
            else:
                assert surfaces is not None, "need surfaces or mentions"
                m_full = extract_mentions(
                    transcripts, surfaces, with_context=False,
                    id_bits=self.id_bits,
                )
            if ckpt is None:
                # No resume store: run() only ever consumes (mention_id,
                # mention) downstream (m_slim), so materialize the slim
                # projection — the conv/turn/position columns exist for the
                # checkpoint artifact's resume contract and would double the
                # block-store bytes here for nothing. Measured (5.9M turns,
                # pinned cores): the stage-materialization java CPU is the
                # part of the mentions stage that inflates most from 2->8
                # cores (+6s@2 vs +11s@8 over a noop sink), so halving the
                # stored bytes directly improves scaling efficiency.
                return m_full.select("mention_id", "mention")
            return m_full

        m = stage("mentions", build_mentions, inputs=["transcripts"])
        count_metric("mentions", m)
        # downstream stages only need (mention_id, mention) — never ship the
        # context strings through shuffles / the block store (column pruning
        # the reference does by hand at O4; here it's an explicit projection
        # because the checkpoint boundary would otherwise materialize all
        # columns)
        m_slim = m.select("mention_id", "mention")

        # -- 2. surfaces (dedup + encode) --------------------------------------
        # The scorer is a pure function of surface text (the determinism /
        # F1-parity requirement, SURVEY §7.3e), so blocking/scoring/linking
        # run once per DISTINCT surface, not once per mention — the same
        # precompute-and-reuse move the reference makes for entity encodings
        # (O1, main_dense.py:103-105). With zipfian surface frequencies at
        # 10^12 turns this collapses the heavy stages by orders of magnitude;
        # it is also the first skew fix: the hottest surface becomes ONE row.
        def build_surfaces() -> DataFrame:
            return self.build_surfaces_from(m_slim, entities)

        surfaces_t = stage("surfaces", build_surfaces, inputs=["mentions", "entities"])
        count_metric("distinct_surfaces", surfaces_t)

        # -- 3. candidates (surface ⋈ entity on blocking keys) ------------------
        def build_candidates() -> DataFrame:
            return self.build_candidates_from(surfaces_t)

        # candidates is ALWAYS materialized (r3): it has one data consumer,
        # but the materialization boundary cuts the 24-band blocking subtree
        # out of the links-stage plan — AQE re-optimizes the live plan at
        # every shuffle-stage boundary, and re-traversing the blocking tree
        # ~10x over was pure serial driver time
        cands = stage(
            "candidates",
            build_candidates,
            inputs=["surfaces"],
        )
        count_metric("candidate_pairs", cands)

        # -- 4. scoring + argmax link (surface level) ---------------------------
        def build_links() -> DataFrame:
            # two-phase scorer (VERDICT r2 #1): cheap text features on every
            # candidate pair (texts ~100B/row through the shuffle), a
            # provably-lossless threshold prune from the cos-weight bound
            # (exact for link_best — see two_phase_scored_pairs), and the
            # cos term computed only for survivors (recomputed from texts
            # by default, or joined by id in cos_source="join" mode — never
            # ~2KB of vectors per pair through the candidate shuffle).
            # assume_partitioned: the localCheckpoint candidates stage ends
            # hash(a)-partitioned and keeps its physical layout — at the
            # partition count AQE coalesced that shuffle to (one partition
            # at small sizes, where one Python task is cheaper than several);
            # a parquet/Iceberg checkpoint re-read has no known layout, so
            # only the in-memory path skips the repartition.
            return self.build_links_from(
                cands, surfaces_t, assume_partitioned=ckpt is None
            )

        links = stage("links", build_links, inputs=["candidates", "surfaces"])
        count_metric("links", links)

        # -- 5. clustering -----------------------------------------------------
        def build_clusters() -> DataFrame:
            # CC runs on the SURFACE graph (surface -> entity link edges) —
            # provably equivalent to mention-level closure: mentions of the
            # same linked surface connect through the entity anchor, and
            # mentions of unlinked surfaces have no edges (singletons, the
            # reference's no-prediction case, FIXTURES F5). link_best emits
            # at most ONE entity per surface, so the graph is a star forest:
            # a component is one entity `b` with its linked surfaces, and
            # cluster_id = min mention id over the component = min over its
            # surfaces of surf_min (computed in the groupBy that
            # deduplicates surfaces and carried through the links stage).
            # star_components labels every link with that min in ONE window
            # over `links`; the only mention-cardinality work is the final
            # join back onto mentions.
            surf_cluster = star_components(links, hub="b", label="surf_min").select(
                F.col("surf_text").alias("mention"),
                F.col("component").alias("cluster_id"),
            )
            return m_slim.join(surf_cluster, "mention", "left").select(
                F.col("mention_id").alias("node"),
                F.coalesce(F.col("cluster_id"), F.col("mention_id")).alias(
                    "cluster_id"
                ),
            )

        clusters = stage(
            "clusters",
            build_clusters,
            materialize=self.collect_metrics,
            inputs=["links", "mentions"],
        )
        if self.collect_metrics:
            count_metric("clusters", clusters.select("cluster_id").distinct())
        flush_counts()
        return clusters.select("node", F.col("cluster_id").alias("component"))

    def run_links(
        self,
        transcripts: DataFrame,
        entities: DataFrame,
        surfaces: list[str] | None = None,
        mentions: DataFrame | None = None,
    ) -> DataFrame:
        """Mention -> entity links only: (mention_id, conv_id, turn_idx,
        entity_id, score). The stage the STREAMING incremental linker
        appends per micro-batch (streaming/incremental.py): a link is a
        pure function of the surface text and the (static) catalogue, so
        the output is batch-partitioning-invariant — unlike run()'s
        cluster ids (= min mention id per component), which depend on
        which mentions share a batch. Unlinked (NIL) mentions get
        entity_id = -1, score null (the reference's no-prediction case).
        """
        if mentions is None:
            assert surfaces is not None, "need surfaces or mentions"
            mentions = extract_mentions(
                transcripts, surfaces, with_context=False, id_bits=self.id_bits
            )
        m = mentions.select("mention_id", "conv_id", "turn_idx", "mention")

        surf = self._materialize(
            self._with_node_cols(
                m.select(F.col("mention").alias("text"))
                .distinct()
                .select(F.xxhash64(F.lit("surf"), "text").alias("id"), "text")
            )
        )
        ent = self._materialize(
            self._with_node_cols(
                entities.select(
                    (F.lit(ENTITY_ID_OFFSET) - F.col("entity_id")).alias("id"),
                    F.lower(F.col("title")).alias("text"),
                )
            )
        )
        kw = dict(
            id_col="id", text_col="text", bands=self.bands, rows=self.rows,
            shingle_k=self.shingle_k, extra_key_cols=["prefix_key"],
            hash_fn=self._blocking_hash(),
        )
        cands = mention_entity_candidates(
            blocking_keys(surf, **kw),
            blocking_keys(ent, **kw),
            max_entity_block=self.max_entity_block,
            max_candidates_per_mention=self.max_candidates_per_mention,
            max_key_pairs=self.max_key_pairs,
            # keep this caller's durability contract: reliable mode must not
            # drop to executor-pinned localCheckpoint inside the operator
            materializer=self._materialize,
        )
        # same two-phase pruned scorer as run() — the cos term touches only
        # cheap-score survivors, never the pair shuffle; the mention text
        # rides the max struct (no re-attachment join)
        scored = two_phase_scored_pairs(
            cands, surf, ent,
            threshold=self.threshold, argmax_prune=False,
            vec_join=self.vec_join, cos_source=self.cos_source,
        )
        best = link_best(scored, self.threshold, carry=["a_text"])
        surf_link = best.select(
            F.col("a_text").alias("mention"),
            (F.lit(ENTITY_ID_OFFSET) - F.col("b")).alias("entity_id"),
            "score",
        )
        out = m.join(surf_link, "mention", "left")
        return out.select(
            "mention_id",
            "conv_id",
            "turn_idx",
            F.coalesce(F.col("entity_id"), F.lit(-1)).alias("entity_id"),
            "score",
        )

    def run_kb_free(
        self,
        transcripts: DataFrame,
        surfaces: list[str] | None = None,
        mentions: DataFrame | None = None,
        threshold: float | None = None,
    ) -> DataFrame:
        """KB-free matching (SURVEY §7.0: the clustering stage generalizes
        beyond KB linking): no entity catalogue — candidate pairs come from
        the skew-bounded LSH SELF-join over distinct surfaces, accepted
        surface-surface edges transitively cluster, and mentions expand
        linearly. Returns (node=mention_id, component=cluster id = min
        mention id); unmatched surfaces yield per-mention singletons only
        when their surface never links (same NIL semantics as `run`)...
        except that here identical surfaces DO co-cluster (there is no gold
        KB to declare them NIL) — the exact-dedup semantics of KB-free ER.
        """
        thr = self.threshold if threshold is None else threshold

        if mentions is None:
            assert surfaces is not None, "need surfaces or mentions"
            mentions = extract_mentions(
                transcripts, surfaces, with_context=False, id_bits=self.id_bits
            )
        # materialize only the consumed projection (same rationale as
        # run()'s mentions stage: the conv/turn/position columns are resume
        # artifacts, and block-store bytes are the part of stage
        # materialization whose CPU inflates most with core count)
        m_slim = mentions.select("mention_id", "mention")
        if self.checkpoint_dir is None:
            m_slim = self._materialize(m_slim)

        # ONE grouped pass dedups surfaces AND computes the per-surface min
        # mention id the cluster-canonicalization tail needs (r8 — the old
        # shape re-aggregated the corpus-sized mention frame at the end)
        surf = self._materialize(
            self._with_node_cols(
                m_slim.groupBy("mention")
                .agg(F.min("mention_id").alias("surf_min"))
                .select(
                    F.xxhash64(F.lit("surf"), "mention").alias("id"),
                    F.col("mention").alias("text"),
                    "surf_min",
                )
            )
        )
        keys = blocking_keys(
            surf,
            id_col="id",
            text_col="text",
            bands=self.bands,
            rows=self.rows,
            shingle_k=self.shingle_k,
            extra_key_cols=["prefix_key"],
            hash_fn=self._blocking_hash(),
        )
        pairs = candidate_pairs(keys, max_block=self.max_block)
        # argmax_prune=False: match_edges consumes the FULL accepted-edge
        # set, so only the threshold-bound prune is lossless here (the
        # argmax bound would drop threshold-passing non-best edges and
        # change the transitive closure)
        scored = two_phase_scored_pairs(
            pairs, surf,
            threshold=thr, argmax_prune=False,
            vec_join=self.vec_join, cos_source=self.cos_source,
        )
        edges = self._materialize(match_edges(scored, thr))
        comps = connected_components(
            edges, nodes=surf.select("id"), checkpoint_mode=self.checkpoint_mode
        )
        # cluster_id = min mention id per component with ZERO extra passes
        # over the mention set (r8, same derivation as run()'s
        # build_clusters): the per-surface min rides the surf node table
        # (surf_min, computed in the same groupBy that deduplicates
        # surfaces), so everything below is surface-cardinality until the
        # ONE final join back onto mentions. AQE decides the join
        # strategies (explicit broadcast hints on unbounded-cardinality
        # sides are an OOM risk).
        surf_comp = comps.join(
            surf.select(
                F.col("id").alias("node"),
                F.col("text").alias("mention"),
                "surf_min",
            ),
            "node",
        ).select("mention", "component", "surf_min")
        cmin = surf_comp.groupBy("component").agg(
            F.min("surf_min").alias("cluster_id")
        )
        surf_cluster = surf_comp.join(cmin, "component").select(
            "mention", "cluster_id"
        )
        return m_slim.join(surf_cluster, "mention").select(
            F.col("mention_id").alias("node"), F.col("cluster_id").alias("component")
        )

    def run_kb_free_append(
        self,
        new_transcripts: DataFrame,
        state: DataFrame,
        surfaces: list[str] | None = None,
        mentions: DataFrame | None = None,
        threshold: float | None = None,
        validate_state: bool = True,
        check_cap_invariant: bool = True,
        output: str = "full",
        surface_state: DataFrame | None = None,
    ) -> DataFrame:
        """Append-mode KB-free clustering (VERDICT r5 #5a at pipeline
        level; the oracle-checked query form is queries.er05): merge a NEW
        batch of transcripts into the cluster state of a previous
        `run_kb_free` WITHOUT rescoring the old corpus against itself.

        `state` is (mention_id long, mention string, cluster_id long) —
        the previous run's (node, component) joined back to its mention
        surfaces (the natural sink schema; `cluster_state` below builds
        it). Returns the same (node, component) shape as `run_kb_free` on
        old ∪ new mentions.

        EXACTNESS SCOPE (ADVICE r6): the result is IDENTICAL to a
        full-batch re-run — mention ids are content-hashed
        (batch-invariant), pair scores are pure functions of the two
        surfaces, and NEW-touching pairs come from blocking over the SAME
        union frame the re-run would block — **provided no block holding
        >= 2 state surfaces exceeds `max_block` in the union run**.
        Appending only ever GROWS blocks, so union-under-cap implies the
        base run fully paired that block too and the star edges encode
        exactly the pairs the re-run would score. A block that CROSSES the
        cap, however, switches to salted sorted-neighborhood pairing whose
        old-old pair subset depends on block size/composition: the state
        may then preserve base-run merges the re-run's capped pairing
        would drop (the append result is a superset clustering there —
        monotone, never a split, but not bit-equal). The equivalence test
        pins the uncapped regime; `check_cap_invariant` (default on)
        counts exactly the risky blocks — union-size > max_block with
        >= 2 old members — into metrics["append_capped_old_blocks"] and
        warns when non-zero, so at the 10^12-turn scale where caps bite
        the approximation is DECLARED per run, never silent.

        `validate_state` (default on, VERDICT r6 #4): a corrupted state
        sink — one surface mapped to two cluster_ids — would otherwise
        silently weld both clusters together through that surface's two
        star edges. In kb-free mode (surface -> cluster) is functional by
        construction, so a violation is garbage input: raise, don't merge.

        Scale shape: the state enters as |old distinct surfaces| star
        edges (no rescoring); the expensive pair scorer runs ONLY on
        candidate pairs touching a genuinely new surface. The LSH self-join
        runs over the full surface set (that is what makes the cap
        decisions — and hence the clustering — batch-invariant), but that
        join is skinny key tables; at 10^12 turns the delta cost is
        |new surfaces x blockmates|, not corpus-quadratic. Both guards are
        one aggregation over an already-needed skinny frame (state
        surfaces / the key table); opt out via the flags for
        latency-critical appends that trust their sink.

        `output` (r7, VERDICT r6 #3 — measuring the append showed the
        FULL-output relabel, not the scorer, is where corpus cost hides):

        * "full" (default): (node, component) over old ∪ new mentions —
          the run_kb_free-compatible shape the equivalence test compares
          bit-for-bit. Linear in the corpus by construction (it re-emits
          every old mention row), so at 10^12 turns it is NOT the
          production append.
        * "delta": the UPSERT — only rows whose assignment is new or
          changed: every delta mention, plus old mentions of surfaces
          whose cluster_id changed (a merge relabels the losing cluster's
          members). Rows absent = unchanged; applying the upsert to the
          state reproduces output="full" exactly (pinned by test). The
          trick that makes this delta-shaped: cluster_id = min mention_id
          per component, and an OLD cluster's min IS its cluster_id — so
          the merged component's min is min(member old cluster_ids, delta
          mention ids) and old mention rows are never re-expanded. The
          only corpus-linear work left is column-pruned scans of the
          state table (surface dedup + the changed-surface filter scan) —
          pass `surface_state` to drop even those.

        `surface_state` (optional): the (mention=surface, cluster_id)
        PROJECTION of the state — `surface_cluster_state` builds it; a
        production job sinks it alongside the mention-level state (it is
        surface-cardinality, trivially small next to the corpus). When
        given, every surface-level derivation (the union surface set, the
        star edges, the guards, the changed-surface diff) reads it instead
        of re-deduplicating the corpus-sized state; the mention-level
        `state` is then touched by exactly ONE column-pruned filter scan
        (delta output's changed-member relabel) — or zero in output="full"
        ... which still unions it, so pass surface_state WITH
        output="delta" for the genuinely delta-shaped append. Must be
        consistent with `state` (same run's sink); it is trusted the same
        way state is, and validate_state checks functionality on whichever
        table the surfaces came from.
        """
        if output not in ("full", "delta"):
            raise ValueError(f"output must be 'full' or 'delta', got {output!r}")
        thr = self.threshold if threshold is None else threshold
        if mentions is None:
            assert surfaces is not None, "need surfaces or mentions"
            # partitioning="auto" (coalesce, no exchange): a delta batch is
            # small relative to the session's task grid, and measured (r7,
            # 200k turns, 32 cores) the round-robin exchange plus the extra
            # Arrow tasks billed 27 CPU-s where the same extraction over
            # coalesced input splits billed 10 — the full-corpus default
            # keeps repartition (balance wins at size, perf-lessons r4)
            mentions = extract_mentions(
                new_transcripts, surfaces, with_context=False,
                id_bits=self.id_bits, partitioning="auto",
            )
        m_new = mentions.select("mention_id", "mention")
        # surface-level view of the state: the sunk projection when given,
        # else derived by deduplicating the corpus-sized state (one scan)
        sstate = (
            surface_state.select("mention", "cluster_id")
            if surface_state is not None
            else state.select("mention", "cluster_id").distinct()
        )
        if output == "full":
            # materialized: consumed by surf AND (twice) by the final
            # expansion — unmaterialized, the union+dedup over the whole
            # corpus re-ran per consumer (measured r7: append CPU EXCEEDED
            # the full recompute's before this)
            m_all = self._materialize(
                m_new.unionByName(
                    state.select("mention_id", "mention")
                ).dropDuplicates(["mention_id"])
            )
            surf_src = m_all.select(F.col("mention").alias("text"))
        else:
            # delta mode never builds the corpus-sized mention union: the
            # union SURFACE set is state-surface ∪ delta-surface. m_new is
            # materialized — its three consumers (surface union, min
            # candidates, the upsert's new rows) would each re-run the
            # delta extraction
            m_new = self._materialize(m_new)
            surf_src = sstate.select(F.col("mention").alias("text")).unionByName(
                m_new.select(F.col("mention").alias("text"))
            )

        surf = self._materialize(
            self._with_node_cols(
                surf_src.distinct().select(
                    F.xxhash64(F.lit("surf"), "text").alias("id"), "text"
                )
            )
        )
        # surfaces already present in the state: their pairwise closure is
        # encoded by the star edges below, so only pairs touching a NEW
        # surface need scoring. The filter runs AFTER candidate_pairs so
        # the block-size cap decisions are the full-run ones (equivalence).
        # materialized: surface cardinality after the distinct, but its many
        # consumers (guards, the new-surface anti-join's two sides, star
        # edges, delta-mode min candidates) would each re-run the
        # corpus-sized distinct scan of the state (or re-read the sunk
        # surface projection)
        old_surf_comp = self._materialize(
            sstate.select(
                F.xxhash64(F.lit("surf"), "mention").alias("sid"), "cluster_id"
            )
            .distinct()
        )
        keys = blocking_keys(
            surf,
            id_col="id",
            text_col="text",
            bands=self.bands,
            rows=self.rows,
            shingle_k=self.shingle_k,
            extra_key_cols=["prefix_key"],
            hash_fn=self._blocking_hash(),
        )
        # BOTH guards collect in ONE union-of-aggregates job (r8 — each was
        # its own serial job barrier; same move as run()'s deferred counter
        # metrics). The validate error still raises before any append
        # output is produced.
        guard_aggs = []
        if check_cap_invariant:
            # materialize the skinny key table once: the guard aggregation
            # and candidate_pairs would otherwise each re-run the MinHash
            # keying subtree (the multi-consumer lesson, perf-lessons r3)
            keys = self._materialize(keys)
            old_ids = old_surf_comp.select(F.col("sid").alias("id")).distinct()
            guard_aggs.append(
                keys.join(old_ids.withColumn("__old", F.lit(1)), "id", "left")
                .groupBy("block_key")
                .agg(
                    F.count("*").alias("n"),
                    F.count("__old").alias("n_old"),
                )
                .where(
                    (F.col("n") > self.max_block) & (F.col("n_old") >= 2)
                )
                .agg(F.count("*").alias("n"))
                .select(F.lit("capped").alias("k"), "n")
            )
        if validate_state:
            # (surface -> cluster) must be functional (docstring): count the
            # surfaces claiming two clusters in one grouped aggregation over
            # the (small) distinct state-surface frame
            guard_aggs.append(
                old_surf_comp.groupBy("sid")
                .agg(F.count_distinct("cluster_id").alias("nc"))
                .where(F.col("nc") > 1)
                .agg(F.count("*").alias("n"))
                .select(F.lit("conflicted").alias("k"), "n")
            )
        if guard_aggs:
            one = guard_aggs[0]
            for a in guard_aggs[1:]:
                one = one.unionByName(a)
            res = {r["k"]: r["n"] for r in one.collect()}
            conflicted = res.get("conflicted", 0)
            if conflicted:
                raise ValueError(
                    f"malformed append state: {conflicted} surface(s) map to "
                    "more than one cluster_id — the state sink is corrupted "
                    "(or was not produced by run_kb_free); appending it "
                    "would silently weld those clusters together"
                )
            if check_cap_invariant:
                capped = res.get("capped", 0)
                self.metrics["append_capped_old_blocks"] = capped
                if capped:
                    import warnings

                    warnings.warn(
                        f"append-mode exactness scope exceeded: {capped} "
                        f"block(s) holding >=2 state surfaces are over "
                        f"max_block={self.max_block} in the union run — "
                        "state merges inside them may not match a "
                        "full-batch recompute (monotone superset, never a "
                        "split; see run_kb_free_append docstring)",
                        stacklevel=2,
                    )
        pairs = candidate_pairs(keys, max_block=self.max_block)

        new_ids = (
            surf.select("id")
            .join(old_surf_comp.select(F.col("sid").alias("id")), "id", "left_anti")
            .withColumn("is_new", F.lit(1))
        )
        pairs = (
            pairs.join(new_ids.select(F.col("id").alias("a"), "is_new"), "a", "left")
            .join(
                new_ids.select(
                    F.col("id").alias("b"), F.col("is_new").alias("is_new_b")
                ),
                "b",
                "left",
            )
            .where(F.col("is_new").isNotNull() | F.col("is_new_b").isNotNull())
            .select("a", "b")
        )
        scored = two_phase_scored_pairs(
            pairs, surf,
            threshold=thr, argmax_prune=False,
            vec_join=self.vec_join, cos_source=self.cos_source,
        )
        new_edges = match_edges(scored, thr)
        # star edges: every old surface -> its component's representative
        # surface (min surface id). In kb-free mode all mentions of one
        # surface share a cluster, so (surface, cluster_id) is functional.
        rep = old_surf_comp.groupBy("cluster_id").agg(F.min("sid").alias("rep"))
        star = old_surf_comp.join(rep, "cluster_id").select(
            F.col("sid").alias("src"), F.col("rep").alias("dst")
        )
        edges = self._materialize(new_edges.unionByName(star))
        comps = connected_components(
            edges, nodes=surf.select("id"), checkpoint_mode=self.checkpoint_mode
        )
        surf_comp = comps.join(
            surf.select(F.col("id").alias("node"), F.col("text").alias("mention")),
            "node",
        ).select("mention", "component")
        if output == "full":
            ml = m_all.join(surf_comp, "mention")
            cmin = ml.groupBy("component").agg(
                F.min("mention_id").alias("cluster_id")
            )
            return ml.join(cmin, "component").select(
                F.col("mention_id").alias("node"),
                F.col("cluster_id").alias("component"),
            )

        # ---- output == "delta": the upsert, never expanding old mentions ----
        # min-candidate per component = member old clusters' cluster_ids
        # (each IS the min mention_id of its old members) ∪ per-surface min
        # of the DELTA mention ids (a delta mention of an old surface can
        # undercut the old min — content-hashed ids are unordered)
        old_cand = comps.join(
            old_surf_comp.select(F.col("sid").alias("node"), "cluster_id"), "node"
        ).select("component", F.col("cluster_id").alias("cand"))
        new_cand = (
            m_new.groupBy("mention")
            .agg(F.min("mention_id").alias("cand"))
            .join(surf_comp, "mention")
            .select("component", "cand")
        )
        cmin = (
            old_cand.unionByName(new_cand)
            .groupBy("component")
            .agg(F.min("cand").alias("cluster_id"))
        )
        # surface -> new cluster id (surface cardinality), materialized for
        # its three consumers below
        surf_cluster = self._materialize(
            surf_comp.join(cmin, "component").select("mention", "cluster_id")
        )
        # changed surfaces: new surface, or an old surface whose cluster_id
        # moved (its cluster merged with a lower-min one)
        old_sc = old_surf_comp.select(
            F.col("sid").alias("__sid"), F.col("cluster_id").alias("old_cid")
        )
        chg = (
            surf_cluster.withColumn(
                "__sid", F.xxhash64(F.lit("surf"), "mention")
            )
            .join(old_sc, "__sid", "left")
            .where(
                F.col("old_cid").isNull()
                | (F.col("old_cid") != F.col("cluster_id"))
            )
            .select("mention", F.col("cluster_id").alias("new_cid"))
        )
        out_new = m_new.join(surf_cluster, "mention").select(
            F.col("mention_id").alias("node"),
            F.col("cluster_id").alias("component"),
        )
        # one column-pruned filter scan of the state — the delta-shaped
        # write: |changed surfaces' members|, broadcastable chg side
        out_old = state.join(chg, "mention").select(
            F.col("mention_id").alias("node"),
            F.col("new_cid").alias("component"),
        )
        # a delta mention re-ingesting an existing mention_id appears in
        # both branches with the SAME component (same surface) — dedup
        return out_new.unionByName(out_old).dropDuplicates(["node"])

    @staticmethod
    def surface_cluster_state(state: DataFrame) -> DataFrame:
        """(mention=surface, cluster_id) projection of a cluster_state
        table — the surface-cardinality companion a production job sinks
        alongside the mention-level state so `run_kb_free_append` never
        has to re-deduplicate the corpus to recover the surface set."""
        return state.select("mention", "cluster_id").distinct()

    @staticmethod
    def cluster_state(clusters: DataFrame, mentions: DataFrame) -> DataFrame:
        """Build `run_kb_free_append`'s state table from a run's output:
        (mention_id, mention, cluster_id) — the schema a production job
        sinks after every batch and reads back before the next."""
        return clusters.join(
            mentions.select(F.col("mention_id").alias("node"), "mention"), "node"
        ).select(
            F.col("node").alias("mention_id"),
            "mention",
            F.col("component").alias("cluster_id"),
        )
