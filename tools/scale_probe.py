"""Scale probe: MEASURED scaling evidence for the headline queries.

Replicates the sf0.1 FACT tables (orders, lineitem, events) ``mult``×
with join-consistent key shifts (o_orderkey and l_orderkey shift
together, so the order⋈lineitem edge scales like a real TPC-H scale-up;
dimensions stay fixed, as dimensions do), then times every bench
HEADLINE query at 1×, and each requested multiplier, min-of-2 after a
warm-up. The product is the wall-clock RATIO per query — the empirical
answer to "would this plan survive a scale-up", next to PLANS.md's
static answer.

Usage: python tools/scale_probe.py [mult ...]   (default: 10 30)
Writes SCALING.md at the repo root and prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from big_data_medical_analysis_spark import registry  # noqa: E402
from big_data_medical_analysis_spark.operators.common import (  # noqa: E402
    per_user_tmpdir,
)
from big_data_medical_analysis_spark.session import get_spark  # noqa: E402

BASE_SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DIMS = ["region", "nation", "customer", "supplier", "part", "documents", "embeddings"]
# LLM-pillar probe: text/embedding queries over SCALED documents/embeddings.
# Copies get DISJOINT vocabularies (every token prefixed with the copy tag)
# so exact/near-dup structure does not replicate across copies — otherwise
# every bucket gains m copies and intra-bucket PAIR OUTPUT grows m², which
# measures the blowup of duplicated data, not the algorithm.
PILLAR_QUERIES = [
    "doc_token_stats",
    "docs_exact_dedup",
    "minhash_portable_groups",
    "simhash_near_dup",
    "tfidf_top_terms",
    "bigram_lm_perplexity_filter",
    "cosine_topk",
    "embedding_diversity_score",
    # round 12 (continuation): the linear-in-corpus members of the
    # published-selection family — DSIR's gram explode, the trained
    # classifier's GD passes, DoReMi's EG step, and CCNet's per-language
    # ntile are all single-scan + bounded-state shapes that must track
    # the corpus multiplier.
    "dsir_importance_select",
    "quality_classifier_gd",
    "doremi_domain_weights",
    "ccnet_perplexity_buckets",
]
# Round 13 (VERDICT r12 task 2): SemDeDup/D4 admitted to the probe in
# their own tier. Round 14 (VERDICT r13 task 1): assignment is now
# HIERARCHICAL — a derived ceil(sqrt(k)) coarse codebook routes each
# vector to a cell and fine scoring scans only that cell's centroids
# via a cell-keyed equi-join, so the r13 flat-Lloyd O(N·k) = O(N²/128)
# flop term and its corpus-proportional centroid broadcast are gone
# (total ≈ O(N·sqrt(k))). The tier follows the deepest requested
# multiplier (100x when the probe of record runs 10 30 100) to verify
# the measured ratios stay ≤ the multiplier at every rung.
SELECTION_QUERIES = [
    "semdedup_prune_stats",
    "d4_prototype_prune",
    # round 15 (VERDICT r14 task 3): the fused capstone — hierarchical
    # SemDeDup keepers -> DSIR cut -> DoReMi quota draw as one plan; its
    # wall is the screen plus ONE extra corpus scan (the DSIR gram
    # explode), so its ratio must track the semdedup members'
    "curated_corpus_epoch",
]
# Round 14 (VERDICT r13 task 1): the selection tier follows the deepest
# requested tier — the hierarchical (coarse-cell-gated) assignment must
# prove itself at 100x, the rung the flat-Lloyd form was never run at.
SELECTION_MULTS = [10, 30]
# Heavy production shapes (VERDICT r10 task 5): the persisted-index probes,
# the exact prefix-filter similarity join, and the 5-stage governance
# composition — the queries where an accidental candidate-set blowup would
# actually show at 10×. Same disjoint-vocabulary corpus as the pillar (and
# shifted vec_ids for the ANN index), so candidate structure measures the
# blocking algorithm, not duplicated data.
HEAVY_QUERIES = [
    "minhash_incremental_probe",
    "ann_incremental_probe",
    # round 13: the geometry-ADAPTIVE serving path registered beside the
    # fixed-geometry probe — serve_bits derives from the index's exact
    # row count, so its probe wall must track the batch (linear bound),
    # where the fixed-geometry member's documented bound is m²
    "ann_adaptive_probe",
    "ann_recall_audit",
    "prefix_filter_jaccard_join",
    "governed_mixture_sample",
]
FACT_SHIFT_KEYS = {
    # table -> columns sharing the shift grain (join edges must scale together)
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey"],
    "events": ["event_id"],
}


# Generation-recipe versions written INTO the _BUILT markers: a marker
# from an older recipe no longer validates, so a code change to the
# corpus generators can never be silently masked by a cached directory
# (the r12 rotation fix was exactly one early-return away from never
# taking effect on a box that had probed before it).
_FACT_RECIPE = "v1-keyshift"
_DOCS_RECIPE = "v3-rotate-signflip"


def _marker_valid(path: str, recipe: str) -> bool:
    try:
        with open(path) as fh:
            return fh.read().strip() == recipe
    except OSError:
        return False


def build_scaled(spark, mult: int) -> str:
    from pyspark.sql import functions as F

    out = os.path.join(per_user_tmpdir("spark_graft_scale"), f"x{mult}")
    done_marker = os.path.join(out, "_BUILT")
    if _marker_valid(done_marker, _FACT_RECIPE):
        return out
    os.makedirs(out, exist_ok=True)
    for t in DIMS:
        spark.read.parquet(os.path.join(BASE_SF, f"{t}.parquet")).write.mode(
            "overwrite"
        ).parquet(os.path.join(out, f"{t}.parquet"))
    # one consistent shift grain for the orders/lineitem edge
    okey_shift = (
        spark.read.parquet(os.path.join(BASE_SF, "orders.parquet"))
        .agg(F.max("o_orderkey"))
        .collect()[0][0]
        + 1
    )
    ekey_shift = (
        spark.read.parquet(os.path.join(BASE_SF, "events.parquet"))
        .agg(F.max("event_id"))
        .collect()[0][0]
        + 1
    )
    shifts = {"orders": okey_shift, "lineitem": okey_shift, "events": ekey_shift}
    for t, keys in FACT_SHIFT_KEYS.items():
        df = spark.read.parquet(os.path.join(BASE_SF, f"{t}.parquet"))
        parts = []
        for i in range(mult):
            p = df
            for k in keys:
                p = p.withColumn(k, F.col(k) + F.lit(i * shifts[t]))
            parts.append(p)
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        u.write.mode("overwrite").parquet(os.path.join(out, f"{t}.parquet"))
    open(done_marker, "w").write(_FACT_RECIPE)
    return out


def build_scaled_docs(spark, mult: int) -> str:
    """documents/embeddings scaled mult× with disjoint-vocabulary copies
    (tokens prefixed per copy) and shifted ids; relational tables copied."""
    from pyspark.sql import functions as F

    out = os.path.join(per_user_tmpdir("spark_graft_scale"), f"docs_x{mult}")
    done_marker = os.path.join(out, "_BUILT")
    if _marker_valid(done_marker, _DOCS_RECIPE):
        return out
    # Validate the multiplier BEFORE any table writes (ADVICE r12): the
    # rotation x sign-flip recipe below supports at most 2*(dim-1)
    # distinct embedding copies, and discovering that after rebuilding
    # the m-fold documents table wastes a multi-minute build and leaves a
    # partial, marker-less directory. The embedding dimension is read
    # from the parquet footer here — cheap, no Spark job.
    import pyarrow.parquet as pq

    edim = len(
        pq.read_table(
            os.path.join(BASE_SF, "embeddings.parquet"), columns=["embedding"]
        )
        .column("embedding")[0]
        .as_py()
    )
    if mult > 2 * (edim - 1):
        raise ValueError(
            f"build_scaled_docs supports mult <= {2 * (edim - 1)} distinct "
            "embedding copies (rotation x sign-flip); extend the recipe "
            "with a per-copy permutation before probing higher"
        )
    os.makedirs(out, exist_ok=True)
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"]:
        spark.read.parquet(os.path.join(BASE_SF, f"{t}.parquet")).write.mode(
            "overwrite"
        ).parquet(os.path.join(out, f"{t}.parquet"))
    docs = spark.read.parquet(os.path.join(BASE_SF, "documents.parquet"))
    d_shift = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    parts = [docs]
    for i in range(1, mult):
        tag = F.lit(f"c{i}")
        parts.append(
            docs.select(
                (F.col("doc_id") + i * d_shift).alias("doc_id"),
                F.concat_ws(
                    " ",
                    F.transform(
                        F.split("text", " "), lambda tk: F.concat(tag, tk)
                    ),
                ).alias("text"),
                "lang",
                "source",
                "n_chars",
            ).withColumn("n_chars", F.length("text").cast("long"))
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    u.write.mode("overwrite").parquet(os.path.join(out, "documents.parquet"))
    emb = spark.read.parquet(os.path.join(BASE_SF, "embeddings.parquet"))
    e_shift = emb.agg(F.max("vec_id")).collect()[0][0] + 1
    dim = len(emb.select("embedding").first()[0])
    # Disjoint embedding copies, the vector-space twin of the disjoint
    # vocabularies above: copy i CYCLICALLY ROTATES each vector by i
    # positions (norms and within-copy pairwise cosines preserved, so the
    # copy's internal near-dup structure is intact; cross-copy vectors
    # decorrelate and land in different LSH buckets). A bare vec_id shift
    # kept the VALUES identical — every probe then collides with its m
    # exact twins and the probe wall measures an m-fold duplicated-data
    # candidate blowup, not the algorithm (caught by the round-12
    # build/probe split table: ann probe 12.3x at 30x before this fix).
    # Rotation alone repeats with period dim-1 = 63, so at the 100x tier
    # copies i and i+63 were byte-identical twins again (36 pairs —
    # caught by review after the r12c/r12d runs); every second rotation
    # cycle therefore also NEGATES the vector: sign-LSH buckets of -v are
    # the bitwise complement (different buckets), exact cosine against v
    # is -1 (never a near-dup), and norms/within-copy cosine magnitudes
    # are preserved — distinct copies through mult = 2*(dim-1) = 126.
    assert dim == edim, (dim, edim)  # footer probe and Spark read agree
    eparts = [emb] + [
        emb.select(
            (F.col("vec_id") + i * e_shift).alias("vec_id"),
            F.expr(
                ("transform({rot}, x -> -x)" if (i // (dim - 1)) % 2 else "{rot}")
                .format(
                    rot=f"concat(slice(embedding, {i % (dim - 1) + 2}, "
                    f"{dim - (i % (dim - 1) + 1)}), "
                    f"slice(embedding, 1, {i % (dim - 1) + 1}))"
                )
            ).alias("embedding"),
            "label",
        )
        for i in range(1, mult)
    ]
    eu = eparts[0]
    for p in eparts[1:]:
        eu = eu.unionByName(p)
    eu.write.mode("overwrite").parquet(os.path.join(out, "embeddings.parquet"))
    # write the RECIPE string, not a bare sentinel: _marker_valid compares
    # against _DOCS_RECIPE, so any other content invalidates the cache and
    # the corpus rebuilds every run (the r12 marker wrote "ok" — caught in
    # round 13; the rebuild was wasteful, never wrong)
    open(done_marker, "w").write(_DOCS_RECIPE)
    return out


def time_queries(spark, sf_dir: str, names: list[str]) -> dict[str, float]:
    qs = registry.queries()
    out: dict[str, float] = {}
    # warm-up pass
    for name in names:
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    for name in names:
        best = float("inf")
        for _ in range(2):
            t = time.time()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t)
        out[name] = round(best, 3)
    return out


def time_headline(spark, sf_dir: str) -> dict[str, float]:
    return time_queries(spark, sf_dir, bench.HEADLINE)


# The two persisted-index queries, with their extracted build/probe halves:
# the registered query times build + probe together, which hides probe-only
# scaling — the production steady state, where the index is amortized over
# every future batch (VERDICT r11 task 3). The probe tool times the walls
# separately via the operator modules' own extracted functions.
def _split_timers():
    from big_data_medical_analysis_spark.operators.dedup import (
        pmh_build_index,
        pmh_probe_index,
    )
    from big_data_medical_analysis_spark.operators.similarity import (
        ann_adaptive_build,
        ann_adaptive_serve,
        ann_build_index,
        ann_probe_index,
    )

    return {
        "minhash_incremental_probe": (pmh_build_index, pmh_probe_index),
        "ann_incremental_probe": (ann_build_index, ann_probe_index),
        "ann_adaptive_probe": (ann_adaptive_build, ann_adaptive_serve),
    }


def time_build_probe(
    spark, sf_dir: str, names: list[str] | None = None
) -> dict[str, dict[str, float]]:
    """Per incremental query: separate min-of-2 walls for index BUILD
    (bands/buckets + partitioned parquet write) and PROBE (batch bands
    itself + equi-join + rerank against the persisted index). ``names``
    restricts which split timers run (the HEAVY_MULT_CAP skip)."""
    out: dict[str, dict[str, float]] = {}
    for name, (build, probe) in _split_timers().items():
        if names is not None and name not in names:
            continue
        index_dir = build(spark, sf_dir)  # warm-up; the probes read it
        probe(spark, sf_dir, index_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        b_best = p_best = float("inf")
        for _ in range(2):
            t = time.time()
            build(spark, sf_dir)
            b_best = min(b_best, time.time() - t)
        for _ in range(2):
            t = time.time()
            probe(spark, sf_dir, index_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            p_best = min(p_best, time.time() - t)
        out[name] = {"build": round(b_best, 3), "probe": round(p_best, 3)}
    return out


_READING_LINES = [
    "Sub-linear ratios = fixed overheads amortizing over partitioned",
    "throughput; a ratio NEAR OR ABOVE the multiplier would flag a",
    "super-linear term (accidental quadratic, broadcast-turned-shuffle).",
    "Dimension-bound queries (e.g. topk_parts_per_brand) stay flat by",
    "construction — dimensions don't scale with facts.",
    "",
    "Index PROBES scale with batch_size x per-probe candidates. The",
    "MinHash banding keys on content, so on a disjoint corpus its",
    "per-probe candidates stay ~constant and the probe wall tracks the",
    "batch (sub-multiplier). Sign-LSH is different: at FIXED geometry,",
    "per-probe RANDOM candidates grow with the index (~N*L/2^B), so the",
    "ANN probe wall trends toward multiplier^2 at large m BY THE",
    "GEOMETRY'S OWN COST MODEL — production holds candidates constant",
    "by scaling B with log N (the measured knob:",
    "ann_geometry_scaling_audit's ~4x-per-2-bits curve). Round 13: that",
    "knob IS the registered serving path — ann_adaptive_probe persists",
    "the index banded at B_max=16 and serves at",
    "B = min{b : 2^b * target >= index_rows} by integer masking, so its",
    "probe wall carries the LINEAR bound the fixed-geometry member",
    "(kept as the disclosed contrast) cannot.",
]

# Per-query DOCUMENTED scaling bound at corpus multiplier m. Default is m
# (linear-in-corpus). ann_incremental_probe is the one member whose honest
# fixed-geometry cost model is super-linear: probe work ~ batch(m) x
# per-probe candidates(~m) = m^2 (the Reading paragraph above) — flagging
# it as a "regression" at large m would misread its own documentation, so
# its bound is m^2 and the verdict reports it against that bound instead.
HEAVY_DOCUMENTED_BOUND = {
    "ann_incremental_probe": lambda m: float(m) * m,
}

# Probe-tier CEILING per query (VERDICT r13 task 3): the fixed-geometry
# ann_incremental_probe stays registered as the disclosed contrast to the
# adaptive serving path, but a probe run should not spend ~6 minutes
# re-proving its documented m² bound every round — the 100x cell is
# MEASURED AND ON RECORD from r13 (probe wall 197x at 100x, 372.8s of the
# 499.5s heavy-tier total; artifacts/r13/scale_probe_r13b.log). Above the
# ceiling the query is skipped and the table cites the retired
# measurement instead of re-burning it.
HEAVY_MULT_CAP = {"ann_incremental_probe": 30}
_CAP_CITATION = {
    "ann_incremental_probe": "r13 record: 197x probe wall at 100x",
}

_COST_MODELS = {
    "minhash_incremental_probe": (
        "its every stage is corpus-proportional by design — N·bands"
        " signatures plus one equi-join probe per banded candidate"
        " (candidates grow ~m on a disjoint corpus, never m²)"
    ),
    "ann_incremental_probe": (
        "fixed-geometry sign-LSH: probe work ~ batch(m) × per-probe"
        " candidates(~m) = m² by its documented cost model; production"
        " re-tunes B with log N — see ann_adaptive_probe, which does"
    ),
    "ann_adaptive_probe": (
        "serve_bits derives from the index's exact row count, holding"
        " E[candidates/probe] <= target — probe work tracks the batch"
        " (~m), the geometry-adaptive fix for the fixed-geometry m²"
    ),
    "ann_recall_audit": (
        "it prices an exact-truth audit — the truth pass is"
        " deliberately corpus-proportional per probe, bounded by the"
        " fixed probe panel"
    ),
    "prefix_filter_jaccard_join": (
        "exact PPJoin verification cost tracks the candidate count,"
        " which the prefix filter keeps ~linear on a disjoint corpus"
    ),
    "governed_mixture_sample": (
        "the size-gated candidate join (round 13) keeps the pair-dedup"
        " shuffle linear in the corpus; the remaining wall is the"
        " size-compatible verify + mixture stages — linear with the"
        " least fixed-cost headroom, so it sits closest to the"
        " multiplier"
    ),
}


def heavy_verdict_text(
    h_ratios: dict[str, float],
    top_mult: int,
    capped: dict[str, tuple[int, float]] | None = None,
) -> str:
    """The COMPUTED heavy-tier verdict (never static prose a regression
    could contradict): each member is judged against its DOCUMENTED bound
    — m for linear-in-corpus members, m² for the deliberately
    fixed-geometry ANN probe — and members above the plain multiplier but
    inside their documented bound are reported as such, not as
    regressions (the per-query sentence keyed off the measured member,
    ADVICE r11)."""
    bound = {
        n: HEAVY_DOCUMENTED_BOUND.get(n, lambda m: float(m))(top_mult)
        for n in h_ratios
    }
    over = sorted((n, r) for n, r in h_ratios.items() if r > bound[n])
    if over:
        return (
            "**RATIOS ABOVE THEIR DOCUMENTED BOUND — regression to"
            " bisect:** "
            + ", ".join(
                f"{n} at {r:.2f}x vs its {bound[n]:.0f}x bound"
                for n, r in over
            )
            + ". A ratio above the documented bound means a candidate-set"
            " or pair-output blowup beyond the member's own cost model;"
            " this table exists to catch exactly that."
        )
    linear = {n: r for n, r in h_ratios.items() if bound[n] == top_mult}
    max_lin = max(linear, key=linear.get)
    parts = [
        f"This run: every linear-bound member is ≤ the {top_mult}x"
        f" multiplier (max {max_lin} at {linear[max_lin]:.2f}x — "
        + _COST_MODELS[max_lin]
        + ")."
    ]
    for n, r in sorted(h_ratios.items()):
        if bound[n] > top_mult:
            parts.append(
                f" {n} measures {r:.2f}x against its documented"
                f" {bound[n]:.0f}x fixed-geometry bound — "
                + _COST_MODELS[n]
                + "."
            )
    for n, (cap_m, r_cap) in sorted((capped or {}).items()):
        parts.append(
            f" {n} is probed only to its {cap_m}x ceiling"
            f" ({r_cap:.2f}x there) — its deeper behaviour is the"
            f" documented m² bound, measured once and retired"
            f" ({_CAP_CITATION[n]}); re-proving it each run buys no"
            " information."
        )
    parts.append(
        " Linear-in-corpus IS the target cost model for a curation"
        " policy loop; the flag this table watches for is a ratio ABOVE"
        " the member's documented bound."
    )
    return "".join(parts)


def main() -> int:
    # dedupe + sort at parse time (ADVICE r14): duplicate argv mults used
    # to produce duplicated table columns and double corpus builds
    mults = sorted({int(a) for a in sys.argv[1:]}) or [10, 30]
    pillar_mult = 10
    # the heavy tier follows EVERY requested tier, unioned with its base
    # rungs (ADVICE r14: the old `m > 30` filter silently dropped a
    # requested intermediate multiplier — e.g. `scale_probe.py 20` was
    # timed in the headline table but skipped here, the same silent-skip
    # class the capped-member machinery exists to avoid). A full
    # 10/30/100 probe run prices the dedup/ANN production shapes at
    # 100x — the tier where governed_mixture_sample's near-the-line
    # linearity either holds or breaks.
    heavy_mults = sorted({10, 30} | set(mults))
    spark = get_spark("scale_probe")
    results = {1: time_headline(spark, BASE_SF)}
    for m in mults:
        d = build_scaled(spark, m)
        results[m] = time_headline(spark, d)
    p_results = {1: time_queries(spark, BASE_SF, PILLAR_QUERIES)}
    pd_dir = build_scaled_docs(spark, pillar_mult)
    p_results[pillar_mult] = time_queries(spark, pd_dir, PILLAR_QUERIES)
    # selection tier (round 13; deepened in round 14 for the
    # hierarchical assignment): follows EVERY requested tier, unioned
    # with its base rungs (ADVICE r14: the old `m > max(base)` filter
    # silently dropped a requested intermediate multiplier from this
    # tier — the exact silent-skip class the capped-member machinery
    # exists to avoid)
    sel_mults = sorted(set(SELECTION_MULTS) | set(mults))
    sel_results = {1: time_queries(spark, BASE_SF, SELECTION_QUERIES)}
    for m in sel_mults:
        d = pd_dir if m == pillar_mult else build_scaled_docs(spark, m)
        sel_results[m] = time_queries(spark, d, SELECTION_QUERIES)
    h_results = {1: time_queries(spark, BASE_SF, HEAVY_QUERIES)}
    s_results = {1: time_build_probe(spark, BASE_SF)}
    for m in heavy_mults:
        d = pd_dir if m == pillar_mult else build_scaled_docs(spark, m)
        names_m = [
            n for n in HEAVY_QUERIES if m <= HEAVY_MULT_CAP.get(n, 1 << 30)
        ]
        h_results[m] = time_queries(spark, d, names_m)
        s_results[m] = time_build_probe(spark, d, names_m)
    lines = [
        "# SCALING — measured headline wall-clock vs fact-table scale",
        "",
        f"Base = `{BASE_SF}` (sf0.1). Facts (orders/lineitem/events) replicated",
        "with join-consistent key shifts; dimensions fixed. min-of-2 after",
        "warm-up, local[32]. The RATIO column is the evidence: a plan that",
        "holds its shape scales ≈ linearly in fact rows (ratios ≤ the",
        "multiplier — sub-linear where fixed overheads amortize); a plan",
        "hiding an accidental quadratic or a broadcast-turned-shuffle would",
        "blow past it.",
        "",
        "| query | 1x (s) | "
        + " | ".join(f"{m}x (s) | {m}x/1x" for m in mults)
        + " |",
        "|---|---|" + "---|---|" * len(mults),
    ]
    total1 = sum(results[1].values())
    for name in bench.HEADLINE:
        row = [name, f"{results[1][name]:.3f}"]
        for m in mults:
            r = results[m][name]
            row += [f"{r:.3f}", f"{r / max(results[1][name], 1e-9):.2f}x"]
        lines.append("| " + " | ".join(row) + " |")
    tot_row = ["**total**", f"**{total1:.3f}**"]
    for m in mults:
        tm = sum(results[m].values())
        tot_row += [f"**{tm:.3f}**", f"**{tm / total1:.2f}x**"]
    lines.append("| " + " | ".join(tot_row) + " |")
    def emit_tier(heading_lines, names, res, m):
        """One single-multiplier tier table; the per-row and total-row
        zero-division guards are unified here (the three tables used to
        be near-verbatim copies that guarded inconsistently)."""
        lines.extend(["", *heading_lines, "",
                      f"| query | 1x (s) | {m}x (s) | {m}x/1x |",
                      "|---|---|---|---|"])
        for name in names:
            r1, rm = res[1][name], res[m][name]
            lines.append(
                f"| {name} | {r1:.3f} | {rm:.3f} | {rm / max(r1, 1e-9):.2f}x |"
            )
        t1, tm = sum(res[1].values()), sum(res[m].values())
        lines.append(
            f"| **total** | **{t1:.3f}** | **{tm:.3f}** |"
            f" **{tm / max(t1, 1e-9):.2f}x** |"
        )

    emit_tier(
        [
            "## LLM-pillar scaling (documents/embeddings ×{m}, DISJOINT copies:".format(m=pillar_mult),
            "per-copy token-prefixed vocabularies and per-copy cyclically",
            "rotated embeddings — exact/near-dup structure deliberately does",
            "NOT replicate across copies, so the probe measures the",
            "algorithms, not an m² pair-output blowup of duplicated data)",
        ],
        PILLAR_QUERIES, p_results, pillar_mult,
    )
    lines.extend([
        "",
        "## Selection tier: derived-k SemDeDup/D4 (round 13 — k =",
        "max(4, ceil(N/128)) from the corpus's exact count, so the",
        "within-cluster cosine screen is width-bounded ≈ N·128, linear;",
        "round 14 — assignment is HIERARCHICAL: a derived ceil(sqrt(k))",
        "coarse codebook routes each vector to a cell and fine scoring",
        "scans only that cell's centroids, killing the flat-Lloyd",
        "O(N·k)=O(N²/128) flop term, and the tier now follows the deepest",
        "requested multiplier. The ratio to watch is vs the multiplier —",
        "the fixed-k form these replaced was m² by construction and",
        "excluded from the probe until r13)",
        "",
        "| query | 1x (s) | "
        + " | ".join(f"{m}x (s) | {m}x/1x" for m in sel_mults)
        + " |",
        "|---|---|" + "---|---|" * len(sel_mults),
    ])
    for name in SELECTION_QUERIES:
        row = [name, f"{sel_results[1][name]:.3f}"]
        for m in sel_mults:
            r = sel_results[m][name]
            row += [f"{r:.3f}", f"{r / max(sel_results[1][name], 1e-9):.2f}x"]
        lines.append("| " + " | ".join(row) + " |")
    st1 = sum(sel_results[1].values())
    tot_row = ["**total**", f"**{st1:.3f}**"]
    for m in sel_mults:
        tm = sum(sel_results[m].values())
        tot_row += [f"**{tm:.3f}**", f"**{tm / max(st1, 1e-9):.2f}x**"]
    lines.append("| " + " | ".join(tot_row) + " |")
    lines.extend([
        "",
        "## Heavy dedup/ANN production tier (same disjoint-vocabulary corpus",
        "at each multiplier — persisted-index probes, exact prefix-filter",
        "similarity join, and the 5-stage governance composition: the shapes",
        "where an accidental candidate blowup would actually show; index",
        "build + probe both inside the timed wall for the two incremental",
        "queries — see the split table below for the separated walls)",
        "",
        "| query | 1x (s) | "
        + " | ".join(f"{m}x (s) | {m}x/1x" for m in heavy_mults)
        + " |",
        "|---|---|" + "---|---|" * len(heavy_mults),
    ])
    for name in HEAVY_QUERIES:
        row = [name, f"{h_results[1][name]:.3f}"]
        for m in heavy_mults:
            r = h_results[m].get(name)
            if r is None:
                row += ["—", f"capped ({_CAP_CITATION[name]})"]
            else:
                row += [
                    f"{r:.3f}",
                    f"{r / max(h_results[1][name], 1e-9):.2f}x",
                ]
        lines.append("| " + " | ".join(row) + " |")
    # totals sum only the members measured at EVERY tier, so the total
    # ratio compares like with like when a capped member drops out
    common = [
        n
        for n in HEAVY_QUERIES
        if all(n in h_results[m] for m in heavy_mults)
    ]
    ht1 = sum(h_results[1][n] for n in common)
    label = (
        "**total**"
        if len(common) == len(HEAVY_QUERIES)
        else "**total (uncapped members)**"
    )
    tot_row = [label, f"**{ht1:.3f}**"]
    for m in heavy_mults:
        tm = sum(h_results[m][n] for n in common)
        tot_row += [f"**{tm:.3f}**", f"**{tm / max(ht1, 1e-9):.2f}x**"]
    lines.append("| " + " | ".join(tot_row) + " |")
    lines.extend([
        "",
        "### Incremental-index walls, split (VERDICT r11 task 3): BUILD =",
        "band/bucket + partitioned parquet write of the 90% index slice;",
        "PROBE = the 10% batch bands itself + equi-join (+ exact rerank for",
        "ANN) against the ALREADY-persisted index. Probe-only scaling is the",
        "production steady state — a batch's cost must track the batch and",
        "its candidates, with the index build amortized across batches.",
        "",
        "| query | wall | 1x (s) | "
        + " | ".join(f"{m}x (s) | {m}x/1x" for m in heavy_mults)
        + " |",
        "|---|---|---|" + "---|---|" * len(heavy_mults),
    ])
    for name in _split_timers():
        for wall in ("build", "probe"):
            base = s_results[1][name][wall]
            row = [name, wall, f"{base:.3f}"]
            for m in heavy_mults:
                cell = s_results[m].get(name)
                if cell is None:
                    row += ["—", f"capped ({_CAP_CITATION[name]})"]
                else:
                    r = cell[wall]
                    row += [f"{r:.3f}", f"{r / max(base, 1e-9):.2f}x"]
            lines.append("| " + " | ".join(row) + " |")
    # The heavy-tier verdict is COMPUTED from this run's measurements —
    # never static prose that a future regression could contradict. The
    # per-query cost-model sentence is keyed off the measured max-ratio
    # member (ADVICE r11: a static algorithm description can describe the
    # wrong query when the ranking shifts).
    top_mult = max(heavy_mults)
    h_ratios = {
        n: h_results[top_mult][n] / max(h_results[1][n], 1e-9)
        for n in HEAVY_QUERIES
        if n in h_results[top_mult]
    }
    capped = {
        n: (
            cap,
            h_results[cap][n] / max(h_results[1][n], 1e-9),
        )
        for n, cap in HEAVY_MULT_CAP.items()
        if top_mult > cap and cap in h_results
    }
    lines += ["", "## Reading", ""]
    lines += _READING_LINES
    lines.append(heavy_verdict_text(h_ratios, top_mult, capped))
    open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SCALING.md"), "w").write(
        "\n".join(lines) + "\n"
    )
    print(json.dumps({
        "mults": mults,
        "results": {str(k): v for k, v in results.items()},
        "pillar": {str(k): v for k, v in p_results.items()},
        "selection": {str(k): v for k, v in sel_results.items()},
        "heavy": {str(k): v for k, v in h_results.items()},
        "heavy_split": {str(k): v for k, v in s_results.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
