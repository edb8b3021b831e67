"""Freeze deterministic expected outputs for the queries whose
semantics are not SQL-expressible (blake2b simhash, NB classify, IVF
probe, ...).

Expected tables are computed DRIVER-SIDE from the pure-Python specs /
numpy — independently of the Spark implementations — then cross-checked
against the live Spark queries before being frozen to
data/expected_sf0.01/<query>.parquet. The oracle_sql() entries read
them back with read_parquet(), so the driver's hard rows+schema+hash
gate covers these queries too.

Frozen at sf0.01 (the driver's correctness scale). Regenerate after any
spec change:  python tools/gen_expected.py
"""

from __future__ import annotations

import itertools
import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.01"
OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "data",
    "expected_sf0.01",
)


def expected_simhash_pairs() -> pd.DataFrame:
    """All-pairs hamming <= 3 over py-spec simhash64. The LSH query's
    16-bit pigeonhole blocking has recall 1.0 at distance 3, and the
    exact-dup expansion preserves per-member pairs, so the blocked
    result must equal this exhaustive one."""
    from hyperpolyglot_spark.operators.dedup import simhash64

    rows = duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{SF}/documents.parquet') ORDER BY doc_id"
    ).fetchall()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    sigs = np.array([simhash64(r[1]) for r in rows], dtype=np.int64)
    u = sigs.astype(np.uint64)
    out = []
    for i, j in itertools.combinations(range(len(ids)), 2):
        ham = int(bin(int(u[i] ^ u[j])).count("1"))
        if ham <= 3:
            a, b = int(ids[i]), int(ids[j])
            out.append((min(a, b), max(a, b), ham))
    return pd.DataFrame(out, columns=["id_a", "id_b", "hamming"]).astype(
        {"id_a": "int64", "id_b": "int64", "hamming": "int32"}
    )


def expected_langid_unresolved() -> pd.DataFrame:
    """classify_or_none_py (default hashed model, full universe) over
    doc_id<100 of documents plus the out-of-universe fixture — the
    open-world terminal the Spark query must reproduce, including which
    fixture docs are unresolved (NULL lang_pred)."""
    from hyperpolyglot_spark.datagen.unknown import fixture_rows
    from hyperpolyglot_spark.functions.langid import (
        classify_or_none_py,
        default_hashed_model,
        training_corpus,
    )

    model = default_hashed_model()
    rows = duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{SF}/documents.parquet') "
        "WHERE doc_id < 100 ORDER BY doc_id"
    ).fetchall()
    rows = (
        list(rows)
        + [(i, t) for i, _, t in fixture_rows()]
        + [(20_000 + i, t) for i, (_, t) in enumerate(training_corpus()[:30])]
    )
    out = []
    for doc_id, text in rows:
        pred = classify_or_none_py(text, [], model)
        out.append(
            (doc_id, pred, "unresolved" if pred is None else "classifier")
        )
    return pd.DataFrame(
        out, columns=["doc_id", "lang_pred", "strategy"]
    ).astype({"doc_id": "int64"})


def expected_langid_short_texts() -> pd.DataFrame:
    """classify_or_none_py over the short-form stratum (titles/queries,
    datagen/realtext.short_texts) — the frozen length-envelope spec the
    Spark query must reproduce, including which fragments the gate
    declines (NULL lang_pred -> NULL correct)."""
    from hyperpolyglot_spark.datagen.realtext import short_texts
    from hyperpolyglot_spark.functions.langid import (
        classify_or_none_py,
        default_hashed_model,
    )

    model = default_hashed_model()
    out = []
    for i, (lang, frags) in enumerate(sorted(short_texts().items())):
        for j, frag in enumerate(frags):
            pred = classify_or_none_py(frag, [], model)
            out.append(
                (
                    30_000 + 3 * i + j,
                    lang,
                    pred,
                    (pred == lang) if pred is not None else None,
                )
            )
    return pd.DataFrame(
        out, columns=["doc_id", "lang", "lang_pred", "correct"]
    ).astype({"doc_id": "int64"})


def expected_langid_noisy_texts() -> pd.DataFrame:
    """classify_or_none_py + py_keep_drop over the noisy-encoding
    stratum — the frozen per-row spec of the robustness behavior the
    floors in test_realtext pin in aggregate."""
    from hyperpolyglot_spark.datagen.realtext import noisy_texts
    from hyperpolyglot_spark.functions.langid import (
        classify_or_none_py,
        default_hashed_model,
    )
    from hyperpolyglot_spark.functions.quality import py_keep_drop

    model = default_hashed_model()
    out = []
    for doc_id, lang, variant, text in noisy_texts():
        keep, rule = py_keep_drop(text)
        pred = classify_or_none_py(text, [], model)
        out.append(
            (
                doc_id, lang, variant, pred, keep, rule,
                bool(keep and pred is not None and pred != lang),
            )
        )
    return pd.DataFrame(
        out,
        columns=[
            "doc_id", "lang", "variant", "lang_pred", "keep",
            "drop_rule", "kept_mislabel",
        ],
    ).astype({"doc_id": "int64"})


def expected_code_switch_spans() -> pd.DataFrame:
    """Pure-python spec of the per-span code-switch segmentation
    (segments.classify_spans_py) over documents(doc_id<60) + the
    cross-script bilingual stratum — one row per span with the
    doc-level dominant/mixed columns repeated (the Spark query's
    posexplode shape)."""
    import duckdb

    from hyperpolyglot_spark.datagen.realtext import code_switched_docs
    from hyperpolyglot_spark.functions.segments import classify_spans_py

    rows = duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{SF}/documents.parquet') "
        "WHERE doc_id < 60 ORDER BY doc_id"
    ).fetchall()
    rows += [(d, t) for d, _a, _b, _l, t in code_switched_docs()]
    out = []
    for doc_id, text in rows:
        r = classify_spans_py(text)
        for i, (st, ln, nl, script, lang) in enumerate(r["spans"]):
            out.append(
                (
                    doc_id, i, st, ln, nl, script, lang,
                    r["dominant_lang"], round(r["dominant_share"], 6),
                    r["mixed"],
                )
            )
    return pd.DataFrame(
        out,
        columns=[
            "doc_id", "span_idx", "span_start", "span_len",
            "span_letters", "script", "lang", "dominant_lang",
            "dominant_share", "mixed",
        ],
    ).astype({"doc_id": "int64", "span_idx": "int32", "span_start": "int32",
              "span_len": "int32", "span_letters": "int32"})


def expected_unresolved_disposition() -> pd.DataFrame:
    """Pure-python spec of the unresolved-policy query: classify with
    the gate, keep/drop ladder (no url -> vendor rule can't fire),
    perplexity rule with per-language thresholds (NULL lang -> no LM ->
    unscored, the documented bypass), then the disposition under the
    default quarantine policy and under the drop policy."""
    from hyperpolyglot_spark.datagen.unknown import fixture_rows
    from hyperpolyglot_spark.functions.langid import (
        classify_or_none_py,
        default_hashed_model,
        training_corpus,
    )
    from hyperpolyglot_spark.functions.perplexity import (
        default_ppl_model,
        perplexity_py,
        ppl_thresholds_for,
    )
    from hyperpolyglot_spark.functions.quality import MAX_PPL, py_keep_drop
    from hyperpolyglot_spark.plans.pipeline import py_disposition

    model = default_hashed_model()
    pm = default_ppl_model()
    thr = ppl_thresholds_for(pm)
    rows = duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{SF}/documents.parquet') "
        "WHERE doc_id < 100 ORDER BY doc_id"
    ).fetchall()
    rows = (
        list(rows)
        + [(i, t) for i, _, t in fixture_rows()]
        + [(20_000 + i, t) for i, (_, t) in enumerate(training_corpus()[:30])]
    )
    out = []
    for doc_id, text in rows:
        pred = classify_or_none_py(text, [], model)
        keep, rule = py_keep_drop(text, "")
        ppl = None
        if keep:
            ppl = perplexity_py(text, pred, pm) if pred is not None else None
            if ppl is not None and ppl > thr.get(pred, MAX_PPL):
                keep, rule = False, "perplexity"
        disp_q = py_disposition(keep, pred, "quarantine")
        disp_d = "dropped" if (not keep or pred is None) else "kept"
        out.append((doc_id, pred, keep, rule, ppl is not None, disp_q, disp_d))
    return pd.DataFrame(
        out,
        columns=[
            "doc_id",
            "lang_pred",
            "keep",
            "drop_rule",
            "ppl_scored",
            "disposition",
            "disposition_if_drop",
        ],
    ).astype({"doc_id": "int64"})


def expected_ivf_topk() -> pd.DataFrame:
    """numpy replication of ivf_centroids (seeds = 8 lowest ids, one
    refinement pass) + 4-cell probe + exact top-10 within the probed
    cells, query = vec_id 7. cosine_raw is stored UNROUNDED; the oracle
    SQL applies round(,6) so the final rounding happens in one place."""
    rows = duckdb.sql(
        f"SELECT vec_id, embedding FROM read_parquet('{SF}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    V = np.array([r[1] for r in rows], dtype=np.float64)

    def normalize(M):
        return M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)

    n_cells, n_probe, k = 8, 4, 10
    C = V[np.argsort(ids)[:n_cells]].copy()  # seeds: lowest ids
    cells = np.argmax(normalize(V) @ normalize(C).T, axis=1)
    C2 = C.copy()
    for c in range(n_cells):
        members = V[cells == c]
        if len(members):
            C2[c] = members.mean(axis=0)

    q = V[ids == 7][0]
    qn = q / max(np.linalg.norm(q), 1e-12)
    probe = set(np.argsort(-(normalize(C2) @ qn))[:n_probe].tolist())
    cells2 = np.argmax(normalize(V) @ normalize(C2).T, axis=1)
    mask = np.isin(cells2, list(probe))
    sims = normalize(V[mask]) @ qn
    sub_ids = ids[mask]
    # Spark: ORDER BY round(cosine, 6) DESC, vec_id LIMIT k
    order = np.lexsort((sub_ids, -np.round(sims, 6)))[:k]
    return pd.DataFrame(
        {
            "vec_id": sub_ids[order].astype("int64"),
            "cosine_raw": sims[order],
        }
    )


def expected_semantic_dedup() -> pd.DataFrame:
    """numpy replication of semantic_dedup over the embeddings table:
    centroids = ivf_centroids(n_cells=8, one refinement pass), each
    vector in its nearest cell, drop iff a lower-id cell-mate has
    round(cosine, 6) > 0.45; dup_of = lowest such id, dup_cosine =
    that partner's cosine."""
    rows = duckdb.sql(
        f"SELECT vec_id, embedding FROM read_parquet('{SF}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    V = np.array([r[1] for r in rows], dtype=np.float64)

    def normalize(M):
        return M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)

    n_cells, thr = 8, 0.45
    C = V[np.argsort(ids)[:n_cells]].copy()
    cells1 = np.argmax(normalize(V) @ normalize(C).T, axis=1)
    C2 = C.copy()
    for c in range(n_cells):
        members = V[cells1 == c]
        if len(members):
            C2[c] = members.mean(axis=0)
    cells2 = np.argmax(normalize(V) @ normalize(C2).T, axis=1)
    Vn = normalize(V)
    S = np.round(Vn @ Vn.T, 6)
    out = []
    order = np.argsort(ids)
    for j in order:
        mates = np.where(
            (cells2 == cells2[j]) & (ids < ids[j]) & (S[:, j] > thr)
        )[0]
        if len(mates):
            lo = mates[np.argmin(ids[mates])]
            out.append(
                (int(ids[j]), int(cells2[j]), False, int(ids[lo]),
                 float(S[lo, j]))
            )
        else:
            out.append((int(ids[j]), int(cells2[j]), True, None, None))
    df = pd.DataFrame(
        out, columns=["vec_id", "cell", "keep", "dup_of", "dup_cosine"]
    ).astype({"vec_id": "int64", "cell": "int32"})
    # keep NULLs as python None (object dtype), not float NaN — the
    # crosscheck compares raw tuples against Spark's None
    df["dup_of"] = pd.Series([r[3] for r in out], dtype=object)
    df["dup_cosine"] = pd.Series([r[4] for r in out], dtype=object)
    return df


def expected_knn_blocked() -> pd.DataFrame:
    """numpy replication of the multi-probe IVF-blocked KNN self-join:
    centroids = ivf_centroids(n_cells=8, 1 refinement pass), every
    vector assigned to its 3 nearest cells, candidate pairs share >= 1
    cell, exact cosine on candidates, top-3 per vector with ties broken
    on neighbor id AFTER rounding to 6 (matching knn_join's order by
    round(cosine,6) desc, neighbor_id)."""
    rows = duckdb.sql(
        f"SELECT vec_id, embedding FROM read_parquet('{SF}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    V = np.array([r[1] for r in rows], dtype=np.float64)

    def normalize(M):
        return M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)

    n_cells, n_probe, k = 8, 3, 3
    C = V[np.argsort(ids)[:n_cells]].copy()
    cells1 = np.argmax(normalize(V) @ normalize(C).T, axis=1)
    C2 = C.copy()
    for c in range(n_cells):
        members = V[cells1 == c]
        if len(members):
            C2[c] = members.mean(axis=0)
    sims_to_c = normalize(V) @ normalize(C2).T
    probes = np.argsort(-sims_to_c, axis=1)[:, :n_probe]  # (n, 3)

    Vn = normalize(V)
    S = np.round(Vn @ Vn.T, 6)
    out = []
    for i in range(len(ids)):
        shared = (probes[:, None, :] == probes[i][None, :, None]).any(
            axis=(1, 2)
        )
        shared[i] = False
        cand = np.where(shared)[0]
        order = cand[np.lexsort((ids[cand], -S[i, cand]))][:k]
        for rk, j in enumerate(order, 1):
            out.append((int(ids[i]), int(ids[j]), float(S[i, j]), rk))
    return pd.DataFrame(
        out, columns=["vec_id", "neighbor_id", "cosine", "rk"]
    ).astype({"vec_id": "int64", "neighbor_id": "int64", "rk": "int32"})


def crosscheck(spark, name: str, pdf: pd.DataFrame, round_cols: dict | None = None):
    """Run the live Spark query and assert it equals the frozen table."""
    import __spark_entry__ as entry

    sdf = entry.queries()[name](spark, SF)
    got = sorted(
        tuple(r) for r in sdf.collect()
    )
    exp = pdf.copy()
    if round_cols:
        for src, dst in round_cols.items():
            exp[dst] = exp[src].round(6)
            exp = exp.drop(columns=[src])
        exp = exp[[c for c in sdf.columns]]
    want = sorted(tuple(r) for r in exp.itertuples(index=False, name=None))
    assert len(got) == len(want), (name, len(got), len(want))
    for g, w in zip(got, want):
        assert g == w or all(
            (a == b) or (isinstance(a, float) and abs(a - b) < 1e-9)
            for a, b in zip(g, w)
        ), (name, g, w)
    print(f"  {name}: spark output matches frozen expected ({len(got)} rows)")


def main():
    os.makedirs(OUT, exist_ok=True)
    tables = {
        "neardup_simhash_pairs": expected_simhash_pairs(),
        "langid_unresolved": expected_langid_unresolved(),
        "unresolved_disposition": expected_unresolved_disposition(),
        "langid_short_texts": expected_langid_short_texts(),
        "langid_code_switch_spans": expected_code_switch_spans(),
        "langid_noisy_texts": expected_langid_noisy_texts(),
        "semantic_dedup_embeddings": expected_semantic_dedup(),
        "embedding_ann_ivf": expected_ivf_topk(),
        "embedding_knn_blocked": expected_knn_blocked(),
    }
    for name, pdf in tables.items():
        path = os.path.join(OUT, f"{name}.parquet")
        pdf.to_parquet(path, index=False)
        print(f"wrote {path} ({len(pdf)} rows)")

    from hyperpolyglot_spark.session import get_spark

    spark = get_spark("gen_expected", cores=8)
    crosscheck(spark, "neardup_simhash_pairs", tables["neardup_simhash_pairs"])
    crosscheck(spark, "langid_unresolved", tables["langid_unresolved"])
    crosscheck(
        spark, "unresolved_disposition", tables["unresolved_disposition"]
    )
    crosscheck(spark, "langid_short_texts", tables["langid_short_texts"])
    crosscheck(
        spark,
        "langid_code_switch_spans",
        tables["langid_code_switch_spans"],
    )
    crosscheck(
        spark,
        "semantic_dedup_embeddings",
        tables["semantic_dedup_embeddings"],
    )
    crosscheck(
        spark, "langid_noisy_texts", tables["langid_noisy_texts"]
    )
    crosscheck(
        spark,
        "embedding_ann_ivf",
        tables["embedding_ann_ivf"],
        round_cols={"cosine_raw": "cosine"},
    )
    crosscheck(spark, "embedding_knn_blocked", tables["embedding_knn_blocked"])
    print("all frozen expected tables cross-checked OK")


if __name__ == "__main__":
    main()
