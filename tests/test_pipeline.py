"""LLM-pipeline extensions: dedup, similarity, text analysis, multimodal."""

import pytest
from pyspark.sql import functions as F

from bertrand_spark.pipeline import dedup as D
from bertrand_spark.pipeline import similarity as S
from bertrand_spark.pipeline import text as T


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _persisted_rdd_ids(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


@pytest.fixture(scope="module")
def embs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


class TestText:
    def test_token_count(self, spark):
        df = spark.createDataFrame([("hello world  foo",), ("",)], ["t"])
        got = df.select(T.token_count(F.col("t")).alias("n")).collect()
        assert got[0]["n"] == 3 and got[1]["n"] == 0

    def test_bpe_ish(self, spark):
        df = spark.createDataFrame([("I don't like bugs, really 42!",)], ["t"])
        n = df.select(T.bpe_ish_token_count(F.col("t")).alias("n")).collect()[0]["n"]
        assert n >= 8

    def test_char_ngrams(self, spark):
        df = spark.createDataFrame([("abcdef",)], ["t"])
        grams = df.select(T.char_ngrams(F.col("t"), 3).alias("g")).collect()[0]["g"]
        assert grams == ["abc", "bcd", "cde", "def"]

    def test_word_ngrams(self, spark):
        df = spark.createDataFrame([("a b c d",)], ["t"])
        grams = df.select(T.word_ngrams(F.col("t"), 2).alias("g")).collect()[0]["g"]
        assert grams == ["a b", "b c", "c d"]

    def test_quality(self, spark):
        df = spark.createDataFrame(
            [("The quick brown fox jumps over the lazy dog near the river bank",),
             ("!!! ??? ### $$$ %%%",)],
            ["t"],
        )
        got = df.select(T.quality_score(F.col("t")).alias("q")).collect()
        assert got[0]["q"] > got[1]["q"]

    def test_language(self, spark):
        df = spark.createDataFrame(
            [("the cat and the dog is in that house",),
             ("der Hund ist nicht mit der Katze",),
             ("el perro es una mascota para la casa",)],
            ["t"],
        )
        got = df.select(T.detect_language(F.col("t")).alias("l")).collect()
        assert [r["l"] for r in got] == ["en", "de", "es"]

    def test_fingerprint_normalizes(self, spark):
        df = spark.createDataFrame([("Hello  World",), ("hello world",)], ["t"])
        got = df.select(T.fingerprint(F.col("t")).alias("f")).collect()
        assert got[0]["f"] == got[1]["f"]

    def test_rolling_fingerprints(self, spark):
        df = spark.createDataFrame([("abcdefghijklmnop",)], ["t"])
        got = df.select(T.rolling_fingerprints(F.col("t"), 4, 5).alias("f")).collect()[0]["f"]
        assert len(got) == 5 and got == sorted(got)


class TestDedup:
    def test_exact_dedup(self, spark):
        df = spark.createDataFrame(
            [(1, "same text"), (2, "same  TEXT"), (3, "different")],
            ["doc_id", "text"],
        )
        out = D.exact_dedup(df, "text", keep_by="doc_id")
        assert sorted(r["doc_id"] for r in out.collect()) == [1, 3]
        groups = D.exact_dup_groups(df, "text").collect()
        assert len(groups) == 1 and groups[0]["n"] == 2

    def test_minhash_near_dup(self, spark):
        base = "the quick brown fox jumps over the lazy dog again and again ok"
        df = spark.createDataFrame(
            [(1, base), (2, base + " yes"), (3, "completely unrelated content about spark engines")],
            ["doc_id", "text"],
        )
        pairs = D.near_dup_pairs_minhash(df, threshold=0.5, k=32, num_bands=16).collect()
        ids = {(r["id_a"], r["id_b"]) for r in pairs}
        assert (1, 2) in ids
        assert all(3 not in p for p in ids)

    @pytest.mark.parametrize(
        "entry,semi_join,persist",
        [
            pytest.param("self", False, True, id="direct-True"),
            pytest.param("self", False, False, id="direct-False"),
            pytest.param("self", True, True, id="semi-True"),
            pytest.param("self", True, False, id="semi-False"),
            pytest.param("fuzzy", False, None, id="fuzzy-direct"),
            pytest.param("fuzzy", True, None, id="fuzzy-semi"),
            pytest.param("band_store", True, None, id="band_store"),
        ],
    )
    def test_minhash_pairs_materialized_once(
        self, spark, docs, entry, semi_join, persist, monkeypatch
    ):
        """Every MinHash entry point runs its kernel once per call (for
        ``near_dup_pairs_minhash``, whatever ``persist`` says): the result
        is a scan of materialized pairs (no Python-eval node left to
        re-run), the call leaves exactly one new persisted RDD — the one
        backing the result — and the pairs equal the exact shingle-Jaccard
        pairs (all pairs for the self-join, even × odd ids for the two
        fuzzy joins)."""
        if semi_join:  # a zero budget forces the persisted-candidate path
            monkeypatch.setattr(D, "_DIRECT_BROADCAST_BYTES", 0)
        even = docs.filter(F.col("doc_id") % 2 == 0)
        odd = docs.filter(F.col("doc_id") % 2 == 1)
        if entry == "band_store":
            spark.sql("DROP TABLE IF EXISTS t_band_materialized")
            D.write_band_table(odd, "t_band_materialized", num_buckets=4)
        before = _persisted_rdd_ids(spark)
        try:
            if entry == "self":
                pairs = D.near_dup_pairs_minhash(
                    docs, threshold=0.6, k=770, num_bands=154, persist=persist
                )
            elif entry == "fuzzy":
                pairs = D.fuzzy_join_minhash(even, odd, threshold=0.6)
            else:
                pairs = D.fuzzy_join_band_store(
                    even, "t_band_materialized", odd, threshold=0.6
                )
            new_ids = _persisted_rdd_ids(spark) - before
            qe = pairs._jdf.queryExecution()
            assert len(new_ids) == 1 and qe.analyzed().nodeName() == "LogicalRDD"
            assert new_ids == {qe.analyzed().rdd().id()}
            got = {tuple(r)[:2] for r in pairs.collect()}
        finally:
            spark.sql("DROP TABLE IF EXISTS t_band_materialized")
            spark.sql("DROP TABLE IF EXISTS t_band_materialized__params")
        plan = qe.executedPlan().toString()
        for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
            assert node not in plan
        grams = sorted(
            (r["doc_id"], set(r["g"]))
            for r in docs.select(
                "doc_id", T.char_ngrams(F.col("text"), 5).alias("g")
            ).collect()
        )
        exact = {
            (ia, ib) if entry == "self" or ia % 2 == 0 else (ib, ia)
            for i, (ia, ga) in enumerate(grams)
            for ib, gb in grams[i + 1:]
            if (entry == "self" or (ia + ib) % 2 == 1)
            and len(ga & gb) / len(ga | gb) >= 0.6
        }
        assert got == exact and got

    def test_dedup_keep_canonical_frees_round0_checkpoint(self, spark, docs):
        """Round 0's checkpoint is freed whether the input pairs are
        already materialized or an upstream cache first materializes
        inside round 0; the caller's cache survives."""
        from bertrand_spark.pipeline.graph import dedup_keep_canonical

        pairs = D.near_dup_pairs_minhash(
            docs, threshold=0.6, k=770, num_bands=154
        )
        before = _persisted_rdd_ids(spark)
        dedup_keep_canonical(docs, pairs).collect()
        assert _persisted_rdd_ids(spark) - before == set()

        cached = pairs.select("id_a", "id_b").persist()  # not yet materialized
        try:
            before = _persisted_rdd_ids(spark)
            dedup_keep_canonical(docs, cached).collect()
            rel = cached._jdf.queryExecution().withCachedData()
            assert rel.nodeName() == "InMemoryRelation"
            cache_id = rel.cacheBuilder().cachedColumnBuffers().id()
            assert _persisted_rdd_ids(spark) - before == {cache_id}
        finally:
            cached.unpersist()

    def test_minhash_warns_when_bands_miss_tolerance(self, spark):
        import warnings

        df = spark.createDataFrame(
            [(1, "the quick brown fox jumps"), (2, "the quick brown fox leaps")],
            ["doc_id", "text"],
        )
        # defaults k=32 in 8 bands at t=0.7: (1 - 0.7^4)^8 ≈ 0.11 > 1e-4
        with pytest.warns(UserWarning, match="probability 0.11 > miss_tolerance"):
            D.near_dup_pairs_minhash(df)
        # x02's geometry: (1 - 0.6^5)^154 ≈ 4e-6 meets the tolerance
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            D.near_dup_pairs_minhash(df, threshold=0.6, k=770, num_bands=154)
        assert not [w for w in caught if "miss_tolerance" in str(w.message)]

    def test_simhash(self, spark):
        base = "spark makes big data processing simple and fast for everyone today"
        df = spark.createDataFrame(
            [(1, base), (2, base.replace("fast", "quick")), (3, "zebra llama giraffe")],
            ["doc_id", "text"],
        )
        sh = D.simhash64(df).collect()
        assert len(sh) == 3
        pairs = D.near_dup_pairs_simhash(df, max_hamming=16, num_blocks=4).collect()
        ids = {(r["id_a"], r["id_b"]) for r in pairs}
        assert (1, 2) in ids

    def test_ngram_jaccard(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c d e f g h"), (2, "a b c d e f g z"), (3, "q w e r t y u i")],
            ["doc_id", "text"],
        )
        pairs = D.ngram_jaccard_pairs(df, n=2, threshold=0.3).collect()
        ids = {(r["id_a"], r["id_b"]) for r in pairs}
        assert (1, 2) in ids and (1, 3) not in ids

    def test_ngram_jaccard_stop_gram_cap(self, spark):
        # "a b" appears in all 3 docs; max_df=2 drops it from the join.
        # Pair (1,2) still shares rarer grams; jaccard becomes a lower
        # bound (pairs may be missed, never invented).
        df = spark.createDataFrame(
            [(1, "a b c d e f"), (2, "a b c d e z"), (3, "a b x y w v")],
            ["doc_id", "text"],
        )
        exact = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in D.ngram_jaccard_pairs(df, n=2, threshold=0.1).collect()
        }
        capped = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in D.ngram_jaccard_pairs(
                df, n=2, threshold=0.1, max_df=2
            ).collect()
        }
        assert set(capped) <= set(exact)
        for k, v in capped.items():
            assert v <= exact[k] + 1e-9
        assert (1, 3) in exact and (1, 3) not in capped  # only shared "a b"

    def test_on_real_documents(self, docs):
        # sanity: runs on the driver-provided table without error
        assert D.exact_dedup(docs, "text", keep_by="doc_id").count() == docs.count()


class TestSimilarity:
    def test_dot_cosine(self, spark):
        df = spark.createDataFrame(
            [([1.0, 0.0], [1.0, 0.0]), ([1.0, 0.0], [0.0, 1.0])], ["a", "b"]
        )
        got = df.select(
            S.dot(F.col("a"), F.col("b")).alias("d"),
            S.cosine_sim(F.col("a"), F.col("b")).alias("c"),
        ).collect()
        assert got[0]["d"] == 1.0 and abs(got[0]["c"] - 1.0) < 1e-9
        assert got[1]["d"] == 0.0 and abs(got[1]["c"]) < 1e-9

    def test_brute_force_topk(self, embs):
        queries = embs.limit(2).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
        )
        out = S.brute_force_topk(embs, queries, k=5)
        rows = out.collect()
        assert len(rows) == 10
        # self-match must rank top with cosine ~1
        tops = {
            r["q_id"]: r["vec_id"]
            for r in out.filter(F.col("cosine") > 0.999999).collect()
        }
        for q, v in tops.items():
            assert q == v

    def test_ivf_matches_brute_force_mostly(self, embs):
        queries = embs.limit(1).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
        )
        assigned, cents = S.ivf_build(embs, num_cells=4)
        exact = {r["vec_id"] for r in S.brute_force_topk(embs, queries, k=5).collect()}
        approx = {
            r["vec_id"]
            for r in S.ivf_topk(assigned, cents, queries, k=5, nprobe=2).collect()
        }
        assert len(exact & approx) >= 3  # recall ≥ 0.6 at nprobe=2/4 cells

    def test_hyperplane_signature(self, embs):
        out = S.random_hyperplane_signature(embs, "embedding", num_planes=8)
        sigs = out.select("__sig").distinct().count()
        assert sigs > 1  # vectors spread across buckets


class TestMultimodal:
    def test_decode_and_resize(self, spark):
        from bertrand_spark.pipeline import multimodal as M

        df = spark.createDataFrame(
            [(1, b"\x89PNG\r\n fakebytes"), (2, b"\xff\xd8\xff jpegish")],
            ["media_id", "payload"],
        )
        sniffed = M.attach_media_metadata(df)
        fmts = {r["media_id"]: r["sniffed_format"] for r in sniffed.collect()}
        assert fmts == {1: "png", 2: "jpeg"}

        dec = M.decode_images(df, decode="fake", width=4, height=4, channels=3)
        rows = dec.collect()
        assert len(rows) == 2 and all(len(r["pixels"]) == 48 for r in rows)
        # determinism
        again = M.decode_images(df, decode="fake", width=4, height=4, channels=3).collect()
        assert {r["media_id"]: r["pixels"] for r in rows} == {
            r["media_id"]: r["pixels"] for r in again
        }

        rs = M.resize_images(dec, 2, 2).collect()
        assert all(len(r["pixels"]) == 12 for r in rs)

    def test_strict_raises(self, spark):
        from py4j.protocol import Py4JJavaError
        from bertrand_spark.pipeline import multimodal as M

        df = spark.createDataFrame([(1, b"x")], ["media_id", "payload"])
        with pytest.raises(Exception):
            M.decode_images(df, decode="strict").collect()

    def test_video_frames_and_audio(self, spark):
        from bertrand_spark.pipeline import multimodal as M

        df = spark.createDataFrame([(1, b"payload")], ["media_id", "payload"])
        frames = M.sample_video_frames(df, every_n=5, max_frames=3).collect()
        assert [r["frame_index"] for r in frames] == [0, 5, 10]
        feats = M.extract_audio_features(df).collect()[0]["features"]
        assert len(feats) == 16


class TestCosinePairs:
    def _exact(self, spark, e, threshold):
        from bertrand_spark.pipeline.similarity import cosine_sim

        a = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("__va"))
        b = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("__vb"))
        return {
            (r["id_a"], r["id_b"])
            for r in (
                a.crossJoin(b)
                .filter(F.col("id_a") < F.col("id_b"))
                .withColumn("c", cosine_sim(F.col("__va"), F.col("__vb")))
                .filter(F.col("c") >= threshold)
            ).collect()
        }

    def test_blocked_gemm_is_exact(self, spark, sf_dir):
        from bertrand_spark.pipeline.similarity import cosine_all_pairs_blocked
        from bertrand_spark.sources.reader import read_table

        e = read_table(spark, sf_dir, "embeddings").withColumn(
            "embedding", F.col("embedding").cast("array<double>")
        )
        ex = self._exact(spark, e, 0.45)
        got = {
            (r["id_a"], r["id_b"])
            for r in cosine_all_pairs_blocked(
                e, "vec_id", "embedding", threshold=0.45, num_blocks=5
            ).collect()
        }
        assert got == ex and len(ex) > 0

    def test_lsh_high_threshold_subset_and_recall(self, spark, sf_dir):
        # the hyperplane-LSH operating envelope: HIGH thresholds. Output
        # must be an exact-verified SUBSET; with 12x6-plane tables at 0.8
        # the per-pair miss bound is (1-p^6)^12 with p=1-acos(0.8)/pi.
        from bertrand_spark.pipeline.dedup import cosine_near_dup_pairs
        from bertrand_spark.sources.reader import read_table

        e = read_table(spark, sf_dir, "embeddings").withColumn(
            "embedding", F.col("embedding").cast("array<double>")
        )
        ex = self._exact(spark, e, 0.8)
        got = {
            (r["id_a"], r["id_b"])
            for r in cosine_near_dup_pairs(
                e, "vec_id", "embedding", threshold=0.8, num_planes=6, num_tables=12
            ).collect()
        }
        assert got <= ex  # exact verification: never a false positive
        if ex:
            assert len(got) >= 0.9 * len(ex)  # OR-amplified recall


class TestDedupReport:
    def test_overall_and_per_source(self, spark):
        from bertrand_spark.pipeline.dedup import dedup_report

        rows = (
            [("a", "same text")] * 3
            + [("a", "unique one")]
            + [("b", "other text")] * 2
            + [("b", "fresh")]
        )
        df = spark.createDataFrame(
            [(s, t) for s, t in rows], "source string, text string"
        )
        overall = dedup_report(df, "text").collect()[0]
        assert overall["n_rows"] == 7
        assert overall["n_unique"] == 4
        assert overall["n_dup_rows"] == 3
        per = {r["source"]: r for r in dedup_report(df, "text", by="source").collect()}
        assert per["a"]["n_dup_rows"] == 2
        assert per["b"]["n_dup_rows"] == 1
        assert per["b"]["dup_rate"] == 1 / 3

    def test_whitespace_case_normalized(self, spark):
        from bertrand_spark.pipeline.dedup import dedup_report

        df = spark.createDataFrame(
            [("Hello  World",), ("hello world",)], "text string"
        )
        r = dedup_report(df, "text").collect()[0]
        assert r["n_unique"] == 1  # fingerprint normalizes case+whitespace
