"""Second-wave round-6 operators: BM25 retrieval, deterministic k-means,
robust clipping, and the q2/q11 TPC-H shapes (oracle parity is the
driver gate; these tests pin the operator contracts)."""

from __future__ import annotations

from pyspark.sql import functions as F

from stockpy_spark.operators.filters import robust_clip_outliers
from stockpy_spark.operators.similarity import kmeans_assign
from stockpy_spark.operators.textstats import bm25_topk
from stockpy_spark.registry.relational import (
    q_q2_min_cost_supplier,
    q_q11_important_parts,
)


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


class TestBM25:
    def test_topk_contract(self, spark, sf_dir):
        out = bm25_topk(
            _docs(spark, sf_dir), "text", "doc_id", ["spark", "merge"], k=10
        ).collect()
        assert 0 < len(out) <= 10
        # ranks are 1..n, scores non-increasing, all positive (Lucene idf)
        ranks = [r["rank"] for r in sorted(out, key=lambda r: r["rank"])]
        assert ranks == list(range(1, len(out) + 1))
        scores = [r["score"] for r in sorted(out, key=lambda r: r["rank"])]
        assert all(a >= b for a, b in zip(scores, scores[1:]))
        assert all(s > 0 for s in scores)
        assert all(1 <= r["n_terms"] <= 2 for r in out)

    def test_unmatched_terms_empty(self, spark, sf_dir):
        out = bm25_topk(
            _docs(spark, sf_dir), "text", "doc_id", ["zzzznotaword"], k=5
        )
        assert out.count() == 0


class TestKMeans:
    def test_assignment_contract(self, spark, sf_dir):
        emb = _emb(spark, sf_dir)
        out = kmeans_assign(emb, "embedding", "vec_id", k=4)
        rows = out.collect()
        assert len(rows) == emb.count()  # every vector assigned once
        assert {r["cid"] for r in rows} <= set(range(4))
        assert all(-1.0 <= r["sim"] <= 1.0 for r in rows)

    def test_deterministic_rerun(self, spark, sf_dir):
        emb = _emb(spark, sf_dir)
        a = sorted(map(tuple, kmeans_assign(emb, "embedding", "vec_id", k=4).collect()))
        b = sorted(map(tuple, kmeans_assign(emb, "embedding", "vec_id", k=4).collect()))
        assert a == b

    def test_seeds_self_assign(self, spark, sf_dir):
        # after one refinement the seed vector need not stay in "its"
        # cluster, but every cluster id in [0, k) must be seeded
        emb = _emb(spark, sf_dir)
        out = kmeans_assign(emb, "embedding", "vec_id", k=3)
        cids = {r["cid"] for r in out.select("cid").distinct().collect()}
        assert cids == {0, 1, 2}


class TestRobustClip:
    def test_clip_bounds_and_flags(self, spark, sf_dir):
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        out = robust_clip_outliers(ev, "value", ["event_type"], dp=4)
        assert out.count() == ev.count()
        # clipped values stay within each group's observed value range
        chk = (
            out.groupBy("event_type")
            .agg(
                F.min("clipped").alias("cmin"),
                F.max("clipped").alias("cmax"),
                F.min("value").alias("vmin"),
                F.max("value").alias("vmax"),
            )
            .collect()
        )
        for r in chk:
            assert r["cmin"] >= r["vmin"] - 1e-4
            assert r["cmax"] <= r["vmax"] + 1e-4
        # winsorization actually clips something at p05/p95
        assert out.filter(F.col("clipped") != F.round("value", 4)).count() > 0
        # outliers are a small minority under a 5-MAD fence
        n_out = out.filter("is_outlier").count()
        assert n_out < 0.2 * ev.count()


class TestTpchShapes:
    def test_q2_one_row_per_part_and_min(self, spark, sf_dir):
        out = q_q2_min_cost_supplier(spark, sf_dir)
        assert out.groupBy("p_partkey").count().filter("count > 1").count() == 0
        # spot-check: reported min_cost is <= every observed EUROPE unit
        # cost for that part
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        naive = li.groupBy("l_partkey").agg(
            F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("lo")
        )
        j = out.join(naive, out["p_partkey"] == naive["l_partkey"])
        assert j.filter(F.col("min_cost") < F.col("lo") - 1e-9).count() == 0

    def test_q11_threshold(self, spark, sf_dir):
        # sf0.001 has only 10 suppliers; use a nation that exists there
        out = q_q11_important_parts(spark, sf_dir, nationkey=8)
        n = out.count()
        assert n > 0
        # every surviving part clears 0.1% of the nation total
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        sup = spark.read.parquet(f"{sf_dir}/supplier.parquet").filter(
            "s_nationkey = 8"
        )
        tot = (
            li.join(sup, li["l_suppkey"] == sup["s_suppkey"])
            .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
            .collect()[0][0]
        )
        assert out.filter(F.col("part_value") <= 0.001 * tot - 0.01).count() == 0


class TestNBQualityClassifier:
    """nb_quality_classifier (round-12 continuation): the supervised
    model-based quality filter. Reference scores computed in-test with
    an INDEPENDENT pure-Python NB (hashlib md5 buckets, math.log) so a
    formula drift on either side fails loudly."""

    def _ref(self, docs, labels, n_buckets=1024, alpha=1.0, salt="nbq"):
        import hashlib
        import math

        def bucket(tok):
            h = hashlib.md5(f"{salt}\x1f{tok}".encode()).hexdigest()
            return int(h[:13], 16) % n_buckets

        cells = {}
        d1 = sum(1 for _, y in labels.items() if y == 1)
        d0 = len(labels) - d1
        for doc_id, y in labels.items():
            for tok in docs[doc_id].lower().split():
                n1, n0 = cells.get(bucket(tok), (0, 0))
                cells[bucket(tok)] = (n1 + (y == 1), n0 + (y == 0))
        t1 = sum(n1 for n1, _ in cells.values())
        t0 = sum(n0 for _, n0 in cells.values())
        B = n_buckets
        prior = math.log((d1 + alpha) / (d0 + alpha))
        w0 = math.log(alpha / (t1 + alpha * B)) - math.log(alpha / (t0 + alpha * B))
        out = {}
        for doc_id, text in docs.items():
            toks = text.lower().split() if text and text.strip() else []
            s = prior
            for tok in toks:
                b = bucket(tok)
                if b in cells:
                    n1, n0 = cells[b]
                    s += math.log((n1 + alpha) / (t1 + alpha * B)) - math.log(
                        (n0 + alpha) / (t0 + alpha * B)
                    )
                else:
                    s += w0
            out[doc_id] = (len(toks), round(s, 6))
        return out

    def test_matches_pure_python_reference(self, spark):
        from stockpy_spark.operators.textstats import nb_quality_classifier

        docs = {
            1: "the cat sat on the mat",
            2: "buy cheap pills now buy now",
            3: "a thoughtful essay about the nature of things",
            4: "click here click here click here",
            5: "",  # empty doc: must score exactly the rounded prior
            6: "the mat and the cat and the essay",  # unlabeled, OOV-ish
        }
        labels = {1: 1, 2: 0, 3: 1, 4: 0}
        df = spark.createDataFrame(
            [(k, v) for k, v in docs.items()], "doc_id long, text string"
        )
        lab = spark.createDataFrame(
            [(k, v) for k, v in labels.items()], "doc_id long, label int"
        )
        got = {
            r.doc_id: (r.n_tokens, r.nb_score, r.pred_quality)
            for r in nb_quality_classifier(df, "text", "doc_id", lab).collect()
        }
        want = self._ref(docs, labels)
        assert set(got) == set(docs)
        for doc_id, (nt, score) in want.items():
            assert got[doc_id][0] == nt, doc_id
            assert abs(got[doc_id][1] - score) < 1e-9, (doc_id, got[doc_id], score)
            assert got[doc_id][2] == (got[doc_id][1] > 0), doc_id
        # the seed's own quality docs score positive, spam negative
        assert got[1][2] and got[3][2]
        assert not got[2][2] and not got[4][2]

    def test_degenerate_one_class_seed_does_not_crash(self, spark):
        from stockpy_spark.operators.textstats import nb_quality_classifier

        df = spark.createDataFrame(
            [(1, "all good text"), (2, "more good text")],
            "doc_id long, text string",
        )
        lab = spark.createDataFrame([(1, 1), (2, 1)], "doc_id long, label int")
        rows = nb_quality_classifier(df, "text", "doc_id", lab).collect()
        # smoothing keeps every ratio finite; everything leans positive
        assert len(rows) == 2
        assert all(r.nb_score is not None and r.pred_quality for r in rows)
