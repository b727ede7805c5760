"""Scale-point supplement for the four queries whose COMMITTED DuckDB
oracles are infeasible at high duplication factors (sf1 = 100x-replicated
docs/embeddings):

- ``dp_dedup_near`` / ``dp_dedup_best``: the oracle expresses connected
  components as a recursive transitive-closure CTE, which spills >50 GB
  and dies. Here DuckDB still computes the verified minhash pair list
  (the committed ``dp_minhash_lsh`` oracle, unchanged), Python union-find
  replaces only the closure step, and keep-best is an argsort — both
  deterministic and engine-independent.
- ``dp_embed_neardup_lsh`` / ``dp_ngram_jaccard``: the oracle's
  candidate join emits d^2 rows per d-fold duplicate, beyond the
  yardstick's disk at sf1. Here the committed oracle SQL runs UNCHANGED
  but over a view of exact-duplicate-collapsed rows (the same collapse
  the engine applies internally), and the full pair list is reconstructed
  in pandas — cross-group pairs inherit the representative pair's value,
  within-group pairs are the self-similarity (1.0 for jaccard; the
  engine-computed self-cosine fetched from DuckDB for embeddings).
- ``dp_dedup_cross_near``: same d^2 blowup on the fresh x reference
  candidate join. The committed oracle SQL runs UNCHANGED over docs
  collapsed to one representative per (normalized text, doc_id-parity)
  group — parity-aware because the fresh/corpus split is doc_id % 2 and
  a text can appear on both sides. Sound because survivorship is a
  function of the TEXT alone: identical texts give identical signatures,
  hence identical band buckets (candidacy) and identical verified
  Jaccard, and the corpus side enters the oracle only through its
  distinct texts. Expansion: a fresh doc survives iff its parity-group
  representative survives the collapsed run.

Every comparison uses the same order-insensitive hashed compare as
oracle_check. Usage::

    python tests/scale_supplement_check.py [sf_dir] [out_json] [only...]

With ``only`` names given, just those sections run and their rows are
MERGED into an existing out_json (other recorded results kept).
"""

from __future__ import annotations

import json
import os
import sys

import duckdb
import numpy as np
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

from oracle_check import compare  # noqa: E402

SF = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1"
OUT = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
    REPO, "CORRECTNESS_SF1_SUPPLEMENT.json"
)
ONLY = set(sys.argv[3:])
NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"


def _want(*names: str) -> bool:
    return not ONLY or bool(ONLY & set(names))


def record(results, name, spark_df, exp_df, note):
    errs = compare(name, spark_df, exp_df)
    results[name] = {
        "rows_match": len(spark_df) == len(exp_df),
        "schema_match": sorted(spark_df.columns) == sorted(exp_df.columns),
        "hash_match": not errs,
        "spark_rows": len(spark_df),
        "oracle_rows": len(exp_df),
        "err": "; ".join(errs[:3]) if errs else None,
        "note": note,
    }
    print(("✓" if not errs else "✗") + f" {name} ({len(spark_df)} rows)", flush=True)


def union_find(ids: np.ndarray, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    idx = {int(v): i for i, v in enumerate(ids)}
    parent = np.arange(len(ids), dtype=np.int64)

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i in range(len(a)):
        ra, rb = find(idx[int(a[i])]), find(idx[int(b[i])])
        if ra != rb:
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    root = np.fromiter((find(i) for i in range(len(ids))), dtype=np.int64)
    # representative = min doc_id in component (ids need not be sorted)
    return pd.Series(ids).groupby(root).transform("min").to_numpy()


def main() -> int:
    import __spark_entry__ as entry
    from v3_polars_spark.session import get_spark

    oracles = entry.oracle_sql()
    qs = entry.queries()
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{os.path.join(REPO, '.tmp')}'")
    for t in ["documents", "embeddings"]:
        con.execute(
            f"CREATE VIEW {t}_raw AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    spark = get_spark(
        app_name="scale-supplement",
        extra_conf={"spark.driver.maxResultSize": "16g"},
    )
    results: dict[str, dict] = {}

    # ---- dp_dedup_near / dp_dedup_best: committed pair oracle + union-find
    if _want("dp_dedup_near", "dp_dedup_best"):
        con.execute("CREATE VIEW documents AS SELECT * FROM documents_raw")
        print("duckdb: minhash pair oracle ...", flush=True)
        pairs = con.execute(oracles["dp_minhash_lsh"]).df()
        docs = con.execute("SELECT doc_id, n_chars FROM documents_raw").df()
        ids = docs["doc_id"].to_numpy()
        rep = union_find(ids, pairs["id_a"].to_numpy(), pairs["id_b"].to_numpy())
        note_cc = (
            "committed dp_minhash_lsh oracle (DuckDB) for the verified pair "
            "list; Python union-find replaces the recursive-CTE closure, "
            "which exceeds the yardstick's disk at this scale"
        )
        exp_near = pd.DataFrame({"doc_id": ids, "rep": rep})
        record(results, "dp_dedup_near",
               qs["dp_dedup_near"](spark, SF).toPandas(), exp_near, note_cc)

        d2 = pd.DataFrame(
            {"doc_id": ids, "n_chars": docs["n_chars"].to_numpy(), "rep": rep}
        ).sort_values(["rep", "n_chars", "doc_id"], ascending=[True, False, True])
        exp_best = (
            d2.groupby("rep").head(1)[["doc_id", "n_chars"]].reset_index(drop=True)
        )
        record(results, "dp_dedup_best",
               qs["dp_dedup_best"](spark, SF).toPandas(), exp_best, note_cc)
        con.execute("DROP VIEW documents")

    if _want("dp_ngram_jaccard"):
        _ngram_section(con, spark, qs, oracles, results)
    if _want("dp_embed_neardup_lsh"):
        _embed_section(con, spark, qs, oracles, results)
    if _want("dp_dedup_cross_near"):
        _cross_near_section(con, spark, qs, oracles, results)

    out_results = results
    if ONLY and os.path.exists(OUT):
        with open(OUT) as f:
            prior = json.load(f)
        out_results = {**prior.get("results", {}), **results}
    with open(OUT, "w") as f:
        json.dump({"sf_dir": SF, "results": out_results}, f, indent=1)
    print(f"wrote {OUT}")
    return 0 if all(r["hash_match"] for r in results.values()) else 1


def _ngram_section(con, spark, qs, oracles, results) -> None:
    # ---- dp_ngram_jaccard: committed oracle over text-collapsed reps
    con.execute(f"""
        CREATE VIEW doc_grp AS
        SELECT doc_id, md5({NORM}) AS gk,
               len(string_split({NORM}, ' ')) AS n_tok
        FROM documents_raw
    """)
    con.execute("""
        CREATE VIEW doc_reps AS
        SELECT gk, min(doc_id) AS rep, count(*) AS n FROM doc_grp GROUP BY gk
    """)
    con.execute("""
        CREATE VIEW documents AS
        SELECT r.* FROM documents_raw r JOIN doc_reps g ON r.doc_id = g.rep
    """)
    print("duckdb: ngram oracle on reps ...", flush=True)
    rep_pairs = con.execute(oracles["dp_ngram_jaccard"]).df()
    members = con.execute("""
        SELECT d.doc_id, g.rep, g.n, d.n_tok
        FROM doc_grp d JOIN doc_reps g USING (gk)
    """).df()
    exp_ng = expand_pairs(
        rep_pairs, members, value_col="jaccard_r", within_value=1.0,
        within_ok=members["n_tok"] >= 3,
    )
    record(
        results, "dp_ngram_jaccard",
        qs["dp_ngram_jaccard"](spark, SF).toPandas(), exp_ng,
        "committed oracle SQL unchanged, run over exact-duplicate-collapsed "
        "docs (md5 of normalized text); pandas pair expansion — the "
        "uncollapsed shingle join exceeds the yardstick's disk at this scale",
    )
    con.execute("DROP VIEW documents")


def _embed_section(con, spark, qs, oracles, results) -> None:
    # ---- dp_embed_neardup_lsh: committed oracle over vector-collapsed reps
    con.execute("""
        CREATE VIEW emb_grp AS
        SELECT vec_id, md5(CAST(embedding AS VARCHAR)) AS gk FROM embeddings_raw
    """)
    con.execute("""
        CREATE VIEW emb_reps AS
        SELECT gk, min(vec_id) AS rep, count(*) AS n FROM emb_grp GROUP BY gk
    """)
    con.execute("""
        CREATE VIEW embeddings AS
        SELECT r.* FROM embeddings_raw r JOIN emb_reps g ON r.vec_id = g.rep
    """)
    print("duckdb: embedding LSH oracle on reps ...", flush=True)
    rep_pairs_e = con.execute(oracles["dp_embed_neardup_lsh"]).df()
    members_e = con.execute(
        "SELECT e.vec_id AS doc_id, g.rep, g.n FROM emb_grp e "
        "JOIN emb_reps g USING (gk)"
    ).df()
    # engine-computed self-cosine (same expression as the committed oracle)
    thr = float(os.environ.get("SPARK_GRAFT_EMB_THRESHOLD", "0.4"))
    self_cos = con.execute("""
        SELECT g.rep, list_dot_product(v, v)
                 / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(v, v)))
               AS cosine
        FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings_raw) e
        JOIN emb_reps g ON e.vec_id = g.rep
        WHERE g.n > 1
    """).df()
    self_cos = self_cos[self_cos["cosine"] >= thr]
    cos_col = [c for c in rep_pairs_e.columns if c not in ("id_a", "id_b")][0]
    exp_emb = expand_pairs(
        rep_pairs_e, members_e, value_col=cos_col,
        within_map=dict(zip(self_cos["rep"], self_cos["cosine"])),
    )
    record(
        results, "dp_embed_neardup_lsh",
        qs["dp_embed_neardup_lsh"](spark, SF).toPandas(), exp_emb,
        "committed oracle SQL unchanged, run over exact-duplicate-collapsed "
        "vectors; within pairs carry the engine-computed self-cosine — the "
        "uncollapsed bucket join exceeds the yardstick's disk at this scale",
    )


def _cross_near_section(con, spark, qs, oracles, results) -> None:
    # ---- dp_dedup_cross_near: committed oracle over parity-collapsed docs
    #
    # The fresh/corpus split is doc_id % 2, so the collapse keys on
    # (normalized text, parity) — min doc_id preserves each group's parity.
    # Survivorship is a function of the text alone (identical texts give
    # identical minhash signatures -> identical band buckets -> identical
    # verified Jaccard, and the corpus side enters only through its
    # distinct texts), so a fresh doc survives iff its parity-group rep
    # survives the collapsed run.
    con.execute(f"""
        CREATE VIEW docx_grp AS
        SELECT doc_id, doc_id % 2 AS par, md5({NORM}) AS gk
        FROM documents_raw
    """)
    con.execute("""
        CREATE VIEW docx_reps AS
        SELECT gk, par, min(doc_id) AS rep
        FROM docx_grp GROUP BY gk, par
    """)
    con.execute("""
        CREATE VIEW documents AS
        SELECT r.* FROM documents_raw r JOIN docx_reps g ON r.doc_id = g.rep
    """)
    print("duckdb: cross-near oracle on parity reps ...", flush=True)
    surv_reps = con.execute(oracles["dp_dedup_cross_near"]).df()
    members = con.execute("""
        SELECT d.doc_id, g.rep
        FROM docx_grp d JOIN docx_reps g ON d.gk = g.gk AND d.par = g.par
        WHERE d.par = 1
    """).df()
    keep = set(
        members[members["rep"].isin(set(surv_reps["doc_id"]))]["doc_id"]
    )
    full = con.execute(
        "SELECT doc_id, lang, source, n_chars FROM documents_raw "
        "WHERE doc_id % 2 = 1"
    ).df()
    exp = full[full["doc_id"].isin(keep)].reset_index(drop=True)
    record(
        results, "dp_dedup_cross_near",
        qs["dp_dedup_cross_near"](spark, SF).toPandas(), exp,
        "committed oracle SQL unchanged, run over docs collapsed to one rep "
        "per (normalized text, doc_id-parity); a fresh doc survives iff its "
        "rep survives — the uncollapsed fresh x reference candidate join is "
        "duplication-quadratic and exceeds the yardstick's disk at this scale",
    )
    con.execute("DROP VIEW documents")
    con.execute("DROP VIEW docx_reps")
    con.execute("DROP VIEW docx_grp")


def expand_pairs(
    rep_pairs: pd.DataFrame,
    members: pd.DataFrame,
    value_col: str,
    within_value: float | None = None,
    within_ok: pd.Series | None = None,
    within_map: dict | None = None,
) -> pd.DataFrame:
    """Pandas mirror of the engine's _expand_collapsed_pairs (which reads
    the members from the _exact_groups ``__ids`` arrays): cross-group
    pairs inherit the rep pair's value; within-group pairs get
    ``within_value`` (or per-rep ``within_map``, the engine's computed
    per-group ``within`` after its ``keep`` predicate), optionally gated
    by the ``within_ok`` row mask over ``members``."""
    m = members[["doc_id", "rep"]]
    cross = (
        rep_pairs.rename(columns={"id_a": "__ra", "id_b": "__rb"})
        .merge(m.rename(columns={"rep": "__ra", "doc_id": "__da"}), on="__ra")
        .merge(m.rename(columns={"rep": "__rb", "doc_id": "__db"}), on="__rb")
    )
    cross["id_a"] = np.minimum(cross["__da"], cross["__db"])
    cross["id_b"] = np.maximum(cross["__da"], cross["__db"])
    cross = cross[["id_a", "id_b", value_col]]

    wm = members if within_ok is None else members[within_ok]
    wm = wm[["doc_id", "rep"]]
    w = wm.merge(wm, on="rep", suffixes=("_x", "_y"))
    w = w[w["doc_id_x"] < w["doc_id_y"]].rename(
        columns={"doc_id_x": "id_a", "doc_id_y": "id_b"}
    )
    if within_map is not None:
        w[value_col] = w["rep"].map(within_map)
        w = w.dropna(subset=[value_col])
    else:
        w[value_col] = within_value
    within = w[["id_a", "id_b", value_col]]
    return pd.concat([cross, within], ignore_index=True)


if __name__ == "__main__":
    sys.exit(main())
