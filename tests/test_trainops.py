"""Training-data operators: dedup, similarity search, text analysis.

Oracles: numpy brute force (pairwise Jaccard / Hamming / cosine) and
DuckDB SQL where expressible.
"""

import itertools
import re
import string

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geowave_spark.operators.dedup import (
    _shingles,
    exact_dedup,
    minhash_lsh_dedup,
    minhash_udf,
    simhash_pairs,
)
from geowave_spark.operators.similarity import brute_topk, cosine_neardup_pairs, ivf_topk
from geowave_spark.operators.text import (
    fingerprint,
    language_id,
    quality_features,
    token_count,
)
from tools.audit_plans import plan_of

rng = np.random.default_rng(42)
WORDS = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf", "hotel", "the", "a", "le", "der"]


def _mk_docs(n=120, dup_groups=15):
    """Word-salad docs with planted near-duplicate groups."""
    texts = []
    for i in range(n):
        toks = rng.choice(WORDS, 40).tolist()
        texts.append(" ".join(toks))
    # plant near-dups: copy an earlier doc and mutate 2 tokens
    for g in range(dup_groups):
        src = texts[g]
        toks = src.split()
        toks[5] = "mutated"
        toks[20] = "tokens"
        texts[n - 1 - g] = " ".join(toks)
    # plant exact dups
    texts[50] = texts[0]
    texts[51] = texts[1]
    return pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64), "text": texts})


@pytest.fixture(scope="module")
def docs_pdf():
    return _mk_docs()


@pytest.fixture(scope="module")
def docs(spark, docs_pdf):
    return spark.createDataFrame(docs_pdf).cache()


@pytest.fixture(scope="module")
def emb_pdf():
    n, dim = 300, 32
    X = rng.standard_normal((n, dim)).astype(np.float32)
    # plant near-dups
    for i in range(10):
        X[n - 1 - i] = X[i] + rng.standard_normal(dim).astype(np.float32) * 0.01
    return pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64), "embedding": list(X)})


@pytest.fixture(scope="module")
def emb(spark, emb_pdf):
    pdf = pd.DataFrame(
        {"vec_id": emb_pdf["vec_id"], "embedding": [v.tolist() for v in emb_pdf["embedding"]]}
    )
    return spark.createDataFrame(pdf).cache()


def persistent_rdds_per_call(spark, call, n=3):
    """Persistent RDD count after each of ``n`` collected calls; call ``i``
    gets its own input, so a cache it leaves is a new one."""
    counts = []
    for i in range(n):
        call(i).collect()
        counts.append(spark.sparkContext._jsc.getPersistentRDDs().size())
    return counts


# the dropDuplicates(id_a, id_b) shape the shared pair kernel replaced:
# an aggregate (Hash, or Sort when it carries arrays) and its exchange
DEDUPE_EXCHANGE = re.compile(r"Aggregate|hashpartitioning\(id_a#\d+L?, id_b")


def oracle_jaccard_pairs(pdf, threshold, n=3):
    sh = [_shingles(t, n) for t in pdf["text"]]
    out = set()
    for i in range(len(pdf)):
        for j in range(i + 1, len(pdf)):
            inter = np.intersect1d(sh[i], sh[j], assume_unique=True).size
            union = sh[i].size + sh[j].size - inter
            if union and inter / union >= threshold:
                out.add((int(pdf["doc_id"].iloc[i]), int(pdf["doc_id"].iloc[j])))
    return out


class TestDedup:
    def test_exact_dedup(self, spark, docs, docs_pdf):
        got = {(r["doc_id"], r["dup_count"]) for r in exact_dedup(docs).collect()}
        want = {
            (int(g["doc_id"].min()), len(g))
            for _, g in docs_pdf.groupby("text")
        }
        assert got == want
        assert any(c > 1 for _, c in want)  # planted exact dups found

    def test_minhash_lsh_finds_planted_neardups(self, spark, docs, docs_pdf):
        got = {(r["id_a"], r["id_b"]) for r in minhash_lsh_dedup(docs, threshold=0.6).collect()}
        want = oracle_jaccard_pairs(docs_pdf, 0.6)
        # exact-verify stage ⇒ no false positives; LSH recall should be
        # essentially perfect at this signature size for jaccard ≥ 0.6
        assert got <= want
        assert len(got) >= 0.9 * len(want) and len(want) >= 15

    def test_minhash_pair_survives_dropped_first_band(self, spark):
        """A pair whose FIRST agreeing band falls in an over-``max_bucket``
        bucket is still emitted from a later band it agrees on: the
        first-band filter must treat a dropped band as non-matching."""
        mh = minhash_udf(64, 3).func
        grams = ["".join(t) for t in itertools.product(string.ascii_lowercase, repeat=3)]
        # the 3-gram with the smallest hash-0 value sets minhash 0 of every
        # doc that contains it
        star = grams[int(np.argmin(np.array(mh(pd.Series(grams)).tolist())[:, 0]))]
        r = np.random.default_rng(5)
        words = ["".join(r.choice(list(string.ascii_lowercase), 6)) for _ in range(400)]
        base = " ".join(r.choice(words, 30))
        texts = [f"{star} {base}", f"{star} {base} tail"] + [
            f"{star} " + " ".join(r.choice(words, 30)) for _ in range(4)
        ]
        sig = np.array(mh(pd.Series(texts)).tolist())
        # bands=64 → one minhash per band: all six docs share band 0 (a
        # 6-row bucket over max_bucket=3) and the pair also agrees later
        assert (sig[:, 0] == sig[0, 0]).all() and (sig[0, 1:] == sig[1, 1:]).any()
        pdf = pd.DataFrame({"doc_id": np.arange(6, dtype=np.int64), "text": texts})
        with pytest.warns(UserWarning, match="dropped"):
            rows = minhash_lsh_dedup(
                spark.createDataFrame(pdf), threshold=0.6, bands=64, max_bucket=3
            ).collect()
        got = {(r["id_a"], r["id_b"]) for r in rows}
        assert got == oracle_jaccard_pairs(pdf, 0.6) == {(0, 1)}

    def test_minhash_pair_plan_has_no_dedupe(self, spark, docs):
        plan = plan_of(minhash_lsh_dedup(docs, threshold=0.6))
        assert not DEDUPE_EXCHANGE.search(plan)

    @pytest.mark.parametrize("op", ["minhash", "simhash"])
    def test_repeated_calls_release_cache(self, spark, docs, op):
        def call(i):
            part = docs.where(F.col("doc_id") != i)
            if op == "minhash":
                return minhash_lsh_dedup(part, threshold=0.6)
            return simhash_pairs(part, max_hamming=6)

        counts = persistent_rdds_per_call(spark, call)
        assert counts[-1] <= counts[0], counts

    def test_simhash_pairs_verified(self, spark, docs):
        rows = simhash_pairs(docs, max_hamming=6).collect()
        # exact postcondition: every returned pair truly within hamming 6
        assert all(r["hamming"] <= 6 for r in rows)
        # planted near-dup groups should collide strongly
        assert len(rows) >= 5


class TestSimilarity:
    def oracle_topk(self, emb_pdf, qids, k, exclude_self=True):
        X = np.array([v for v in emb_pdf["embedding"]], dtype=np.float64)
        Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
        sims = Xn @ Xn.T
        out = set()
        ids = emb_pdf["vec_id"].to_numpy()
        for q in qids:
            s = sims[q]
            cand = [(-s[j], ids[j]) for j in range(len(ids)) if not (exclude_self and j == q)]
            cand.sort()
            for r, (_, nid) in enumerate(cand[:k]):
                out.add((q, int(nid), r + 1))
        return out

    def test_brute_topk_matches_numpy(self, spark, emb, emb_pdf):
        q = emb.where(F.col("vec_id") < 8)
        got = {
            (r["query_id"], r["neighbor_id"], r["rank"])
            for r in brute_topk(q, emb, k=5, exclude_self=True).collect()
        }
        want = self.oracle_topk(emb_pdf, range(8), 5)
        assert got == want

    def test_catalyst_path_matches_numpy_path(self, spark, emb):
        # plus one all-zero vector: its cosine is 0.0 on both paths (no
        # ANSI divide-by-zero, no NaN), so it ranks by the id tie-break
        corpus = emb.unionByName(spark.createDataFrame([(999, [0.0] * 32)], emb.schema))
        q = corpus.where((F.col("vec_id") < 4) | (F.col("vec_id") == 999))
        a, b = (
            {
                tuple(r)
                for r in brute_topk(
                    q, corpus, k=3, exclude_self=True, catalyst=cat, include_sim=True
                ).collect()
            }
            for cat in (True, False)
        )
        assert {r[:3] for r in a} == {r[:3] for r in b}
        for rows in (a, b):
            assert {r[1:] for r in rows if r[0] == 999} == {(0, 1, 0.0), (1, 2, 0.0), (2, 3, 0.0)}

    def test_ivf_recall(self, spark, emb, emb_pdf):
        q = emb.where(F.col("vec_id") < 20)
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in ivf_topk(q, emb, k=3, num_centroids=8, nprobe=4, exclude_self=True).collect()
        }
        want = {(a, b) for a, b, _ in self.oracle_topk(emb_pdf, range(20), 3)}
        recall = len(got & want) / len(want)
        assert recall >= 0.85  # nprobe=half the buckets → high recall

    def test_sq_quantize_roundtrip_bound(self, spark, emb, emb_pdf):
        from geowave_spark.operators.similarity import quantize_embeddings

        codes, mins, scales = quantize_embeddings(emb)
        got = {r["_nid"]: bytes(r["_code"]) for r in codes.collect()}
        X = np.array([v for v in emb_pdf["embedding"]], dtype=np.float64)
        # per-dim stats match the global min/max exactly
        assert np.allclose(mins, X.min(axis=0))
        assert np.allclose(scales, (X.max(axis=0) - X.min(axis=0)) / 255.0)
        # dequantization error is bounded by half a quantization step
        for i in [0, 7, 123]:
            deq = np.frombuffer(got[i], dtype=np.uint8) * scales + mins
            assert np.all(np.abs(deq - X[i]) <= scales / 2 + 1e-9)

    def test_sq_topk_recall(self, spark, emb, emb_pdf):
        from geowave_spark.operators.similarity import sq_topk

        q = emb.where(F.col("vec_id") < 20)
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in sq_topk(q, emb, k=3, overfetch=4, exclude_self=True).collect()
        }
        want = {(a, b) for a, b, _ in self.oracle_topk(emb_pdf, range(20), 3)}
        # re-rank is exact cosine, so errors can only come from a true
        # neighbor missing the quantized overfetch window
        recall = len(got & want) / len(want)
        assert recall >= 0.9

    def test_sq_topk_exact_mode_matches_brute(self, spark, emb, emb_pdf):
        """exact=True is branch-and-bound: the quantized prefilter keeps
        every row within 2ε of the batch k-th score, so the re-ranked
        output must equal exact brute-force top-k INCLUDING ranks —
        recall 1.0 by construction, not by overfetch luck."""
        from geowave_spark.operators.similarity import sq_topk

        q = emb.where(F.col("vec_id") < 20)
        got = {
            (r["query_id"], r["neighbor_id"], r["rank"])
            for r in sq_topk(q, emb, k=3, exact=True, exclude_self=True).collect()
        }
        assert got == self.oracle_topk(emb_pdf, range(20), 3)

    def test_quantize_min_norm_stat(self, spark, emb, emb_pdf):
        from geowave_spark.operators.similarity import quantize_embeddings

        _, _, _, min_norm = quantize_embeddings(emb, with_min_norm=True)
        X = np.array([v for v in emb_pdf["embedding"]], dtype=np.float64)
        assert np.isclose(min_norm, np.linalg.norm(X, axis=1).min())

    def test_sq_topk_string_ids(self, spark, emb, emb_pdf):
        # the candidate schema derives id types from the inputs —
        # string-keyed corpora must round-trip, not nullify (r4 review)
        from geowave_spark.operators.similarity import sq_topk

        s = emb.selectExpr("concat('v', vec_id) as vec_id", "embedding")
        q = s.where(F.col("vec_id").isin("v0", "v7"))
        rows = sq_topk(q, s, k=3, overfetch=4, exclude_self=True).collect()
        got = {(r["query_id"], r["neighbor_id"]) for r in rows}
        assert len(rows) == 6 and all(
            a.startswith("v") and b.startswith("v") for a, b in got
        )
        want = {
            (f"v{a}", f"v{b}")
            for a, b, _ in self.oracle_topk(emb_pdf, [0, 7], 3)
        }
        assert len(got & want) / len(want) >= 0.9

    def test_cosine_neardup(self, spark, emb, emb_pdf):
        got = {(r["id_a"], r["id_b"]) for r in cosine_neardup_pairs(emb, threshold=0.98).collect()}
        X = np.array([v for v in emb_pdf["embedding"]], dtype=np.float64)
        Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
        sims = Xn @ Xn.T
        ii, jj = np.nonzero(np.triu(sims >= 0.98, 1))
        want = set(zip(ii.tolist(), jj.tolist()))
        assert got <= want and len(got) >= 0.9 * len(want) and len(want) >= 10

    def test_cosine_neardup_equals_lsh_oracle(self, spark, emb, emb_pdf):
        """Row set and ``sim`` equal the numpy LSH oracle (same seeded
        planes and bands); planted pairs agree in several bands, so the
        first-band filter must emit each of them once."""
        from tools.oracle_values import cosine_lsh_pairs

        X = np.array([v for v in emb_pdf["embedding"]], dtype=np.float64)
        want = cosine_lsh_pairs(emb_pdf["vec_id"].tolist(), X, 0.3)
        rows = cosine_neardup_pairs(emb, threshold=0.3).collect()
        got = sorted((r["id_a"], r["id_b"], r["sim"]) for r in rows)
        assert got == sorted(want) and len(got) > 100
        planes = np.random.default_rng(42).standard_normal((16, X.shape[1]))
        keys = ((X @ planes.T > 0).reshape(len(X), 4, 4) * (1 << np.arange(4))).sum(axis=2)
        a, b = (np.array([p[i] for p in got]) for i in (0, 1))
        assert ((keys[a] == keys[b]).sum(axis=1) >= 2).sum() >= 10

    def test_cosine_pair_plan(self, spark, emb):
        """No dedupe exchange, and the band-signature UDF runs once per
        join leg (no inferred size(_keys) > 0 filter re-evaluating it)."""
        plan = plan_of(cosine_neardup_pairs(emb, threshold=0.98))
        assert not DEDUPE_EXCHANGE.search(plan)
        udf_nodes = re.findall(r"^\(\d+\) ArrowEvalPython\n.*\nArguments: (.*)$", plan, re.M)
        assert 1 <= len(udf_nodes) <= 2 and all("_bandsig" in a for a in udf_nodes)


class TestText:
    def test_token_count_and_quality(self, spark, docs, docs_pdf):
        rows = quality_features(docs).collect()
        by_id = {r["doc_id"]: r for r in rows}
        for i in [0, 5, 100]:
            t = docs_pdf["text"].iloc[i]
            assert by_id[i]["n_tokens"] == len(t.split(" "))
            assert by_id[i]["n_chars_c"] == len(t)

    def test_language_id_markers(self, spark):
        pdf = pd.DataFrame(
            {
                "doc_id": [0, 1, 2, 3],
                "text": [
                    "the cat sat on the mat of doom",
                    "le chat est sur le tapis de la maison",
                    "der hund und die katze und der vogel",
                    "xyzzy plugh qwerty",
                ],
            }
        )
        df = spark.createDataFrame(pdf)
        got = {r["doc_id"]: r["lang"] for r in df.select("doc_id", language_id(F.col("text")).alias("lang")).collect()}
        assert got[0] == "en" and got[1] == "fr" and got[2] == "de" and got[3] == "und"

    def test_fingerprint_matches_duckdb(self, spark, docs, docs_pdf):
        import duckdb

        got = {r["doc_id"]: r["fp"] for r in docs.select("doc_id", fingerprint(F.col("text")).alias("fp")).collect()}
        want = dict(
            duckdb.sql(
                "select doc_id, substr(md5(text),1,16) from docs_pdf"
            ).fetchall()
        )
        assert got == want
