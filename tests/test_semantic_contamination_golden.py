"""Golden pin for text_semantic_contamination (plans/text5.py; VERDICT
r10 #5): a PLANTED paraphrase — one training embedding pointing almost
exactly at an eval item's direction — must be flagged through the IVF
probe path, unrelated training vectors must stay unflagged, and
training vectors whose cell no eval item probes must show ZERO
candidates (the cell-pruning is real, not decorative)."""

from __future__ import annotations


def _vec(dim_hot: int, scale: float = 1.0, noise_dim: int | None = None,
         noise: float = 0.0) -> list[float]:
    v = [0.0] * 8
    v[dim_hot] = scale
    if noise_dim is not None:
        v[noise_dim] += noise
    return v


def test_planted_paraphrase_is_flagged(spark, tmp_path):
    from numalogic_prometheus_spark.operators.text import EVAL_MOD
    from numalogic_prometheus_spark.plans.text5 import (
        _SEM_THRESHOLD,
        text_semantic_contamination,
    )

    assert EVAL_MOD == 11
    # 70 vectors, dim 8. Eval items (vec_id % 11 == 0) get orthogonal
    # one-hot directions e0..e6; training vectors sit on e7 with a tiny
    # 0.05 tilt toward e_{i%7} (cosine vs every eval ≈ 0.05, far below
    # the 0.30 threshold). Centroids are the full-corpus artifact
    # vec_id % 31 == 0 → {0, 31, 62}.
    evals = [i for i in range(70) if i % 11 == 0]
    rows = []
    for i in range(70):
        if i % 11 == 0:
            rows.append((i, _vec(evals.index(i))))
        elif i == 7:
            # the planted paraphrase of eval 22 (direction e2): cosine
            # ≈ 0.9999, and its tiny e7 component drags it into the
            # e7-cluster cell that eval 22 probes
            rows.append((i, _vec(2, scale=0.9, noise_dim=7, noise=0.01)))
        elif i in (41, 62):
            # the −e7 cluster, owning centroid 62: orthogonal to every
            # eval, so (all-tie bucket, cent_id tiebreak) no eval ever
            # probes cell 62 — these rows must come back candidate-free
            rows.append((i, _vec(7, scale=-1.0)))
        else:
            rows.append((i, _vec(7, noise_dim=i % 7, noise=0.05)))
    spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    out = {
        r["vec_id"]: r
        for r in text_semantic_contamination(spark, str(tmp_path)).collect()
    }
    # output is the full training side, eval items absent
    assert set(out) == {i for i in range(70) if i % 11 != 0}
    # the planted paraphrase: flagged, exactly one eval hit, near-1 cos
    planted = out[7]
    assert planted["flagged"] == 1
    assert planted["n_eval_hits"] == 1
    assert planted["max_cos"] is not None and planted["max_cos"] > 0.99
    # nobody else is flagged, and every scored candidate stays below
    # the threshold
    for i, r in out.items():
        if i == 7:
            continue
        assert r["flagged"] == 0 and r["n_eval_hits"] == 0, (i, r)
        assert r["max_cos"] is None or r["max_cos"] < _SEM_THRESHOLD
    # cell-pruning is real: at least one training vector's cell is
    # probed by no eval item → zero candidates, NULL max_cos
    pruned = [r for r in out.values() if r["n_eval_candidates"] == 0]
    assert {r["vec_id"] for r in pruned} == {41, 62}
    assert all(r["max_cos"] is None for r in pruned)
    # and at least one training vector IS reached by probes
    assert any(r["n_eval_candidates"] > 0 for r in out.values())
