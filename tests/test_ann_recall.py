"""ANN quality harness (VERDICT r2 next-round #8): recall@k of the
LSH-banded and IVF ANN variants against the brute-force cosine ground
truth (`vec_cosine_topk`), with the candidate-set cost that recall was
bought at.

The fixture embeddings are near-uniform random (top-3 neighbor cosine
~0.33 → ~70° angles), which is the WORST case for hyperplane LSH: per-bit
collision probability for a true neighbor is only ~0.61, so recall decays
as 0.61^bits per band. The measured tradeoff (pinned below; deterministic
— no RNG anywhere in the pipeline):

    bits=10 bands= 2   recall@3 0.000   scans 0.1% of corpus  (fixture cfg)
    bits= 6 bands=10   recall@3 0.667   scans ~14%            (tuned cfg)
    bits= 4 bands=16   recall@3 0.944   scans ~63%

Real corpora have cluster structure (much higher neighbor cosine), which
moves every row of this table up — the harness exists so bits/bands at
deployment are chosen from measured recall on the actual data, not vibes.
SCALE.md §ANN documents the method.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from numalogic_prometheus_spark.functions.vectors import (
    cosine_similarity,
    to_double_array,
)
from numalogic_prometheus_spark.plans import all_queries
from numalogic_prometheus_spark.plans.vectors import _QUERY_FILTER, _banded_vectors

K = 3
N_CORPUS = 500


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return e.select("vec_id", to_double_array("embedding").alias("v"))


@pytest.fixture(scope="module")
def ground_truth(corpus):
    """Brute-force cosine top-K per query — same shape as vec_cosine_topk."""
    q = corpus.filter(F.expr(_QUERY_FILTER)).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    scored = (
        F.broadcast(q)
        .crossJoin(corpus.withColumnRenamed("vec_id", "neighbor_id"))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_similarity("qv", "v"), 6).alias("cos"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), "neighbor_id")
    pdf = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= K)
        .toPandas()
    )
    return pdf.groupby("query_id")["neighbor_id"].apply(set).to_dict()


def _banded_candidates(corpus, bits: int, bands: int) -> dict[int, set[int]]:
    banded = _banded_vectors(corpus, bits=bits, bands=bands)
    q = banded.filter(F.expr(_QUERY_FILTER)).select(
        F.col("vec_id").alias("query_id"), "band_idx", "band_key"
    )
    cands = (
        q.join(banded.select("vec_id", "band_idx", "band_key"), ["band_idx", "band_key"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
        .toPandas()
    )
    return cands.groupby("query_id")["neighbor_id"].apply(set).to_dict()


def _recall_and_cost(cand_map, gt) -> tuple[float, float]:
    recalls, fracs = [], []
    for qid, true_nn in gt.items():
        c = cand_map.get(qid, set())
        recalls.append(len(c & true_nn) / len(true_nn))
        fracs.append(len(c) / N_CORPUS)
    return sum(recalls) / len(recalls), sum(fracs) / len(fracs)


@pytest.mark.parametrize(
    "bits,bands,min_recall,max_cost",
    [
        # fixture config of vec_ann_multiband_topk: cheap, recall-free on
        # random data — kept as the oracle-checked plan-shape witness
        (10, 2, 0.0, 0.01),
        # tuned config (vec_ann_tuned_topk): the measured knee
        (6, 10, 0.60, 0.20),
        # high-recall config: recall ≳0.9 costs ~2/3 of brute force HERE —
        # the number that justifies IVF/structure for uniform-ish data
        (4, 16, 0.90, 0.70),
    ],
)
def test_banded_recall_thresholds(corpus, ground_truth, bits, bands, min_recall, max_cost):
    recall, cost = _recall_and_cost(
        _banded_candidates(corpus, bits, bands), ground_truth
    )
    assert recall >= min_recall, f"recall@{K} {recall:.3f} < {min_recall} at {bits=} {bands=}"
    assert cost <= max_cost, f"candidate fraction {cost:.3f} > {max_cost} at {bits=} {bands=}"


def test_recall_monotone_in_bands(corpus, ground_truth):
    """OR-ing more bands can only add candidates — recall must not drop."""
    r8, _ = _recall_and_cost(_banded_candidates(corpus, 6, 8), ground_truth)
    r10, _ = _recall_and_cost(_banded_candidates(corpus, 6, 10), ground_truth)
    assert r10 >= r8


def test_int8_quantized_recall(spark, sf_dir, ground_truth):
    """int8 code-dot candidates + exact re-rank: quantization noise is
    tiny relative to the 3x candidate oversampling, so recall is ~1.0
    (measured 1.000 on the fixture) — the compressed-scan path costs
    bandwidth, not quality."""
    ann = all_queries()["vec_int8_quantized_topk"](spark, sf_dir).toPandas()
    cand_map = ann.groupby("query_id")["neighbor_id"].apply(set).to_dict()
    recall, _ = _recall_and_cost(cand_map, ground_truth)
    assert recall >= 0.9


def test_ivf_recall_floor(spark, sf_dir, ground_truth):
    """IVF nprobe=2 over data-sampled centroids: pinned at its measured
    0.389 with slack — the structure-free floor for cell-probing ANN."""
    ann = all_queries()["vec_ivf_topk"](spark, sf_dir).toPandas()
    cand_map = ann.groupby("query_id")["neighbor_id"].apply(set).to_dict()
    recall, _ = _recall_and_cost(cand_map, ground_truth)
    assert recall >= 0.30


def test_ivf_filtered_recall_floor(spark, sf_dir):
    """vec_ivf_filtered_topk vs the exact filtered search
    (vec_ann_filtered_topk, the ground truth for the SAME predicate):
    measured 0.278 on the near-uniform fixture — slightly under the
    unfiltered IVF floor because halving the corpus with the label
    predicate does not halve the probe set's cell coverage. Pinned with
    slack; on clustered real corpora the same harness re-measures the
    nprobe needed for production recall."""
    qs = all_queries()
    gt = qs["vec_ann_filtered_topk"](spark, sf_dir).toPandas()
    gt_map = gt.groupby("query_id")["neighbor_id"].apply(set).to_dict()
    ann = qs["vec_ivf_filtered_topk"](spark, sf_dir).toPandas()
    cand_map = ann.groupby("query_id")["neighbor_id"].apply(set).to_dict()
    recall, _ = _recall_and_cost(cand_map, gt_map)
    assert recall >= 0.20, f"filtered-IVF recall@{K} {recall:.3f}"


def test_incremental_recall_floor(spark, sf_dir, corpus):
    """vec_ann_incremental_batch vs exact brute force of the SAME
    batch-vs-corpus split (batch = vec_id % 11 == 0, corpus the rest):
    measured 0.326 on the near-uniform fixture — the nprobe=2 cell-probe
    floor, in line with test_ivf_recall_floor's 0.389 (the incremental
    entry probes the same quantizer, just from outside the corpus).
    Pinned with slack."""
    batch = corpus.filter(F.expr("vec_id % 11 = 0")).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    rest = corpus.filter(F.expr("vec_id % 11 != 0"))
    wk = W.partitionBy("query_id").orderBy(F.col("cos").desc(), "vec_id")
    gt = (
        batch.crossJoin(rest)
        .select(
            "query_id",
            "vec_id",
            cosine_similarity("qv", "v").alias("cos"),
        )
        .withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= K)
    ).toPandas()
    gt_map = gt.groupby("query_id")["vec_id"].apply(set).to_dict()
    ann = all_queries()["vec_ann_incremental_batch"](spark, sf_dir).toPandas()
    cand_map = ann.groupby("query_id")["neighbor_id"].apply(set).to_dict()
    recall, _ = _recall_and_cost(cand_map, gt_map)
    assert recall >= 0.25, f"incremental-ANN recall@{K} {recall:.3f}"


def test_ivf_int8_recall_floor(spark, sf_dir, ground_truth):
    """vec_ivf_int8_topk (VERDICT r9 #5) measured two ways. Against
    vec_ivf_topk — the exact re-rank over the SAME probed cells — recall
    is 1.000 on the fixture: the int8 code-dot pre-selection with 3×
    oversampling loses nothing, i.e. the compression costs bandwidth,
    not quality (same conclusion as test_int8_quantized_recall, now
    inside the IVF pruning). Against the full exact ground truth it
    inherits the nprobe=2 cell-probe floor (measured 0.367 ≈ the 0.389
    of test_ivf_recall_floor). Both pinned with slack."""
    qs = all_queries()
    i8 = qs["vec_ivf_int8_topk"](spark, sf_dir).toPandas()
    cand_map = i8.groupby("query_id")["neighbor_id"].apply(set).to_dict()
    ivf = qs["vec_ivf_topk"](spark, sf_dir).toPandas()
    ivf_map = ivf.groupby("query_id")["neighbor_id"].apply(set).to_dict()
    vs_ivf, _ = _recall_and_cost(cand_map, ivf_map)
    assert vs_ivf >= 0.9, f"int8-vs-IVF recall@{K} {vs_ivf:.3f}"
    vs_exact, _ = _recall_and_cost(cand_map, ground_truth)
    assert vs_exact >= 0.30, f"int8-IVF exact recall@{K} {vs_exact:.3f}"


def test_pq_subvector_recall(spark, sf_dir, ground_truth):
    """PQ m=4 candidates + exact re-rank: per-subvector scales localize
    quantization damage, so recall matches the m=1 int8 entry (measured
    1.000 on the fixture) at the same compressed size — the family's
    point is robustness to outlier dimensions, not fixture recall."""
    ann = all_queries()["vec_pq_subvector_topk"](spark, sf_dir).toPandas()
    cand_map = ann.groupby("query_id")["neighbor_id"].apply(set).to_dict()
    recall, _ = _recall_and_cost(cand_map, ground_truth)
    assert recall >= 0.9


def test_matryoshka_prefix_recall_floor(spark, sf_dir, ground_truth):
    """vec_matryoshka_prefix_topk on SYNTHETIC (non-MRL) embeddings:
    a 16-of-64 prefix of a uniform-random vector carries ~¼ of the
    signal, so prefix ranking is near-uninformative here — measured
    0.111, pinned with slack as the documented worst case (the
    banded-LSH fixture-config treatment: the oracle pins the PLAN, the
    recall harness exists so the prefix length at deployment is chosen
    from measured recall on actual MRL embeddings, where prefixes are
    trained to rank)."""
    ann = all_queries()["vec_matryoshka_prefix_topk"](spark, sf_dir).toPandas()
    cand_map = ann.groupby("query_id")["neighbor_id"].apply(set).to_dict()
    recall, _ = _recall_and_cost(cand_map, ground_truth)
    assert recall >= 0.05
