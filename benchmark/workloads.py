"""The four workloads: one pass each through the library's public
functions, plus an independent reference each pass is verified against.

References are computed once per seed (cached beside the inputs) from
the generated files alone: DuckDB SQL for casts, rollups and totals,
planted ground truth plus exact Jaccard for near duplicates, and the
generator's source text for extraction.  A pass returns a dict whose
``mismatches`` list is empty when its output matched.

Spark defers work until an action, so a lazy call's span holds only its
planning and the execution lands on the span of the call that runs it.
Where a pass consumes a lazy result more than once, it persists and
counts it inside the span of the call that built it.
"""

from __future__ import annotations

import json
import math
import os
import re
import time
from decimal import Decimal

import duckdb
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from bertrand_spark import (cast, detect, detect_elementwise, downcast,
                            resolve, typecheck)
from bertrand_spark.operators.joins import asof_join
from bertrand_spark.pipeline import curation, dedup, docrouter, graph, htmltext
from bertrand_spark.pipeline import text as ptext
from bertrand_spark.sources.layout import write_zordered
from bertrand_spark.sources.reader import read_table
from bertrand_spark.sources.warc import read_warc
from bertrand_spark import streaming


def cached_reference(data_dir: str, build) -> dict:
    path = os.path.join(data_dir, "reference.json")
    if not os.path.exists(path):
        ref = build()
        with open(path + ".tmp", "w") as f:
            json.dump(ref, f, sort_keys=True)
        os.rename(path + ".tmp", path)
    with open(path) as f:
        return json.load(f)


def _files(path: str, suffix: str) -> int:
    return sum(n.endswith(suffix) for _, _, ns in os.walk(path) for n in ns)


def _close(a, b, rel=1e-9) -> bool:
    if a is None or b is None:
        return a is b
    return math.isclose(float(a), float(b), rel_tol=rel, abs_tol=1e-6)


def compare(expected: dict, got: dict, rel: float = 1e-9) -> list[str]:
    return [f"{k}: expected {expected[k]!r}, got {got.get(k)!r}"
            for k in sorted(expected) if not _close(expected[k], got.get(k), rel)]


class Workload:
    name = ""

    def __init__(self, data_dir: str, props: dict, out_dir: str):
        self.data, self.props, self.out = data_dir, props, out_dir
        self.last_output = ()  # arguments of the last verify() call
        os.makedirs(out_dir, exist_ok=True)
        self.ref = cached_reference(data_dir, self.reference)

    def reference(self) -> dict:
        raise NotImplementedError

    def run_pass(self, spark, tracer) -> dict:
        raise NotImplementedError


# ---------------------------------------------------------------- typed_ingest
RAISE_SPEC = {"id": "int64", "qty": "int64", "half": "float64",
              "ts_iso": "datetime", "amount": "decimal"}
COERCE_SPEC = {"code": "int64", "price": "float64", "flag": "bool",
               "ts_dmy": "datetime", "dur": "timedelta"}
INT_COLS = ["id", "qty", "code", "half", "ts_s"]
LADDER = [("tinyint", -2 ** 7, 2 ** 7 - 1), ("smallint", -2 ** 15, 2 ** 15 - 1),
          ("int", -2 ** 31, 2 ** 31 - 1), ("bigint", -2 ** 63, 2 ** 63 - 1)]
FILTER = {"qty_lo": -3000, "qty_hi": 3000, "ts_s_hi": 1_640_995_200}

_TRUE = "('true','t','yes','y','on','1')"
_FALSE = "('false','f','no','n','off','0')"
_TYPED_SQL = f"""
WITH raw AS (SELECT * FROM read_parquet('RAW/*.parquet')),
typed AS (
  SELECT
    CAST(id AS BIGINT) AS id, CAST(qty AS BIGINT) AS qty,
    TRY_CAST(trim(code) AS BIGINT) AS code,
    CASE WHEN lower(trim(price)) IN ('inf','+inf','infinity','+infinity')
           THEN 'inf'::DOUBLE
         WHEN lower(trim(price)) IN ('-inf','-infinity') THEN '-inf'::DOUBLE
         WHEN lower(trim(price)) = 'nan' THEN 'nan'::DOUBLE
         ELSE TRY_CAST(trim(price) AS DOUBLE) END AS price,
    CAST(round_even(CAST(half AS DOUBLE), 0) AS BIGINT) AS half,
    CASE WHEN lower(trim(flag)) IN {_TRUE} THEN TRUE
         WHEN lower(trim(flag)) IN {_FALSE} THEN FALSE END AS flag,
    epoch(CAST(ts_iso AS TIMESTAMP))::BIGINT AS ts_iso,
    epoch(try_strptime(ts_dmy, '%d/%m/%Y %H:%M:%S'))::BIGINT AS ts_dmy,
    CASE WHEN regexp_full_match(trim(dur), '\\d+:\\d{{2}}:\\d{{2}}')
      THEN (CAST(split_part(trim(dur), ':', 1) AS BIGINT) * 3600
            + CAST(split_part(trim(dur), ':', 2) AS BIGINT) * 60
            + CAST(split_part(trim(dur), ':', 3) AS BIGINT)) * 1000000000
    END AS dur,
    CAST(amount AS DECIMAL(38, 2)) AS amount,
    epoch(CAST(ts_iso AS TIMESTAMP))::BIGINT AS ts_s
  FROM raw)
"""


_TYPED_AGGS = """SELECT count(*) AS rows, count(code) AS code_n,
  sum(code) AS code_sum, count(price) AS price_n,
  sum(CASE WHEN isnan(price) THEN 1 ELSE 0 END) AS price_nan,
  sum(CASE WHEN price = 'inf'::DOUBLE THEN 1 ELSE 0 END) AS price_inf,
  sum(CASE WHEN price = '-inf'::DOUBLE THEN 1 ELSE 0 END) AS price_ninf,
  sum(CASE WHEN isfinite(price) THEN price END) AS price_sum,
  sum(half) AS half_sum, sum(id) AS id_sum, sum(qty) AS qty_sum,
  count(flag) AS flag_n, sum(CASE WHEN flag THEN 1 ELSE 0 END) AS flag_true,
  sum(ts_iso) AS ts_iso_sum, count(ts_dmy) AS ts_dmy_n,
  sum(ts_dmy) AS ts_dmy_sum, count(dur) AS dur_n,
  sum(dur // 1000000000) AS dur_sum, sum(amount) AS amount_sum,
  sum(ts_s) AS ts_s_sum FROM typed"""


class TypedIngest(Workload):
    name = "typed_ingest"

    def reference(self) -> dict:
        raw = os.path.join(self.data, "raw.parquet")
        con = duckdb.connect()
        try:
            con.execute("SET TimeZone='UTC'")
            q = _TYPED_SQL.replace("RAW", raw)
            cur = con.execute(q + _TYPED_AGGS)
            full = dict(zip([d[0] for d in cur.description], cur.fetchone()))
            cur = con.execute(
                q + "SELECT count(*) AS rows, sum(code) AS code_sum FROM typed"
                f" WHERE qty BETWEEN {FILTER['qty_lo']} AND {FILTER['qty_hi']}"
                f" AND ts_s < {FILTER['ts_s_hi']}")
            filt = dict(zip([d[0] for d in cur.description], cur.fetchone()))
            bounds = con.execute(q + "SELECT " + ", ".join(
                f"min({c}), max({c})" for c in INT_COLS) + " FROM typed").fetchone()
        finally:
            con.close()
        types = {}
        for i, c in enumerate(INT_COLS):
            lo, hi = bounds[2 * i], bounds[2 * i + 1]
            types[c] = next(t for t, a, b in LADDER if a <= lo and hi <= b)
        conv = {k: (float(v) if isinstance(v, Decimal) else v)
                for k, v in full.items()}
        return {"full": conv, "filtered": filt, "types": types}

    def run_pass(self, spark, t) -> dict:
        with t.span("sources.read", "read_table"):
            raw = read_table(spark, self.data, "raw")
            elems = read_table(spark, self.data, "elements")
        with t.span("types", "detect_elementwise",
                    elements=self.props["elements"]):
            union = detect_elementwise(elems, "value")
        with t.span("types", "resolve"):
            [resolve(s) for s in {**RAISE_SPEC, **COERCE_SPEC}.values()]
        with t.span("convert", "cast", raise_cast=1):
            df = cast(raw, RAISE_SPEC, errors="raise")
        with t.span("convert", "cast"):
            df = cast(df, COERCE_SPEC, errors="coerce", day_first=True)
        df = df.withColumn("ts_s", F.col("ts_iso"))
        with t.span("convert", "cast", raise_cast=1):
            df = cast(df, {"half": "int64", "ts_s": "int64"},
                      rounding="half_even", unit="s", errors="raise")
        with t.span("convert", "downcast"):
            df = downcast(df, INT_COLS)
        with t.span("types", "detect"):
            detect(df)
        with t.span("types", "typecheck"):
            ok_type = typecheck(df, {"id": "int", "flag": "bool",
                                     "ts_iso": "datetime", "price": "float",
                                     "amount": "decimal"})
        path = os.path.join(self.out, "zordered.parquet")
        with t.span("sources.write", "write_zordered",
                    input_bytes=self.props["input_bytes"]):
            write_zordered(df, path, ["qty", "ts_s"], num_files=16)
        with t.span("sources.read", "read_table",
                    files_present=_files(path, ".parquet")):
            back = read_table(spark, self.out, "zordered")
            filtered = back.filter(
                F.col("qty").between(FILTER["qty_lo"], FILTER["qty_hi"])
                & (F.col("ts_s") < FILTER["ts_s_hi"])
            ).agg(F.count("*").alias("rows"), F.sum("code").alias("code_sum")) \
                .collect()[0].asDict()
        with t.span("bench", "verify"):
            self.last_output = (back, filtered, ok_type, union)
            return {"mismatches": self.verify(back, filtered, ok_type, union)}

    def verify(self, back, filtered: dict, ok_type: bool, union) -> list[str]:
        p = F.col("price")
        finite = ~F.isnan(p) & (F.abs(p) != float("inf"))
        row = back.select(
            F.count("*").alias("rows"), F.count("code").alias("code_n"),
            F.sum("code").alias("code_sum"), F.count(p).alias("price_n"),
            F.sum(F.isnan(p).cast("int")).alias("price_nan"),
            F.sum((p == float("inf")).cast("int")).alias("price_inf"),
            F.sum((p == float("-inf")).cast("int")).alias("price_ninf"),
            F.sum(F.when(finite, p)).alias("price_sum"),
            F.sum("half").alias("half_sum"), F.sum("id").alias("id_sum"),
            F.sum("qty").alias("qty_sum"), F.count("flag").alias("flag_n"),
            F.sum(F.col("flag").cast("int")).alias("flag_true"),
            F.sum(F.unix_seconds("ts_iso")).alias("ts_iso_sum"),
            F.count("ts_dmy").alias("ts_dmy_n"),
            F.sum(F.unix_seconds("ts_dmy")).alias("ts_dmy_sum"),
            F.count("dur").alias("dur_n"),
            F.sum(F.col("dur") / 1_000_000_000).cast("long").alias("dur_sum"),
            F.sum("amount").alias("amount_sum"), F.sum("ts_s").alias("ts_s_sum"),
        ).collect()[0].asDict()
        got = {k: (float(v) if isinstance(v, Decimal) else v)
               for k, v in row.items()}
        bad = compare(self.ref["full"], got)
        bad += compare(self.ref["filtered"], filtered)
        schema = {f.name: f.dataType.simpleString() for f in back.schema}
        bad += [f"type of {c}: expected {t}, got {schema.get(c)}"
                for c, t in self.ref["types"].items() if schema.get(c) != t]
        if not ok_type:
            bad.append("typecheck rejected the cast frame")
        # the element column holds boolean words, NA tokens and integers
        got_union = sorted(str(m) for m in union)
        want_union = sorted(str(resolve(n)) for n in ("bool", "int64"))
        if got_union != want_union:
            bad.append(f"detect_elementwise: expected {want_union},"
                       f" got {got_union}")
        return bad


# --------------------------------------------------------------- corpus_curate
THRESHOLD, SHINGLE, GRAM_N, SAMPLE_SHARE, PACK_BUDGET, SHARDS = 0.7, 5, 8, 0.2, 2048, 8
BANDS, ROWS = 8, 4  # near_dup_pairs_minhash defaults: k=32 in 8 bands


def _shingles(text: str) -> set[str]:
    s = re.sub(r"\s+", " ", text).lower()
    if len(s) < SHINGLE:
        return {s}
    return {s[i:i + SHINGLE] for i in range(len(s) - SHINGLE + 1)}


def jaccard(a: str, b: str) -> float:
    x, y = _shingles(a), _shingles(b)
    return len(x & y) / len(x | y) if x | y else 1.0


def _grams(text: str, n: int) -> set[tuple]:
    toks = text.lower().split()
    return {tuple(toks[i:i + n]) for i in range(len(toks) - n + 1)}


class CorpusCurate(Workload):
    name = "corpus_curate"

    def __init__(self, data_dir, props, out_dir):
        t = pq.read_table(os.path.join(data_dir, "corpus.parquet"))
        self.texts = dict(zip(t.column("doc_id").to_pylist(),
                              t.column("text").to_pylist()))
        self.domain = dict(zip(t.column("doc_id").to_pylist(),
                               t.column("domain").to_pylist()))
        self.sample_n = int(props["docs"] * SAMPLE_SHARE)
        super().__init__(data_dir, props, out_dir)

    def reference(self) -> dict:
        bench = pq.read_table(os.path.join(self.data, "bench.parquet"))
        eval_grams = set()
        for text in bench.column("text").to_pylist():
            eval_grams |= _grams(text, GRAM_N)
        # exact dedup keeps the smallest id per normalized text
        first = {}
        for i in sorted(self.texts):
            first.setdefault(" ".join(self.texts[i].lower().split()), i)
        copies = set(self.texts) - set(first.values())
        return {
            "exact_copies": sorted(copies),
            "contaminated": sorted(i for i, s in self.texts.items()
                                   if _grams(s, GRAM_N) & eval_grams),
            "near_jaccard": [[a, b, jaccard(self.texts[a], self.texts[b])]
                             for a, b in self.props["near_pairs"]
                             if a not in copies and b not in copies],
        }

    def run_pass(self, spark, t) -> dict:
        with t.span("sources.read", "read_table"):
            raw = read_table(spark, self.data, "corpus")
            bench = read_table(spark, self.data, "bench")
        with t.span("pipeline.text", "quality_features"):
            feats = ptext.quality_features(F.col("text"))
            df = raw.withColumns({k: feats[k] for k in ("n_tokens", "n_chars")})
        with t.span("pipeline.dedup", "exact_dedup"):
            uniq = dedup.exact_dedup(df, "text", keep_by="doc_id")
        with t.span("pipeline.dedup", "near_dup_pairs_minhash"):
            pairs = dedup.near_dup_pairs_minhash(
                uniq, "doc_id", "text", threshold=THRESHOLD, k=BANDS * ROWS,
                num_bands=BANDS, shingle_n=SHINGLE, persist=False)
            pair_rows = [(r["id_a"], r["id_b"])
                         for r in pairs.select("id_a", "id_b").collect()]
        with t.span("pipeline.graph", "dedup_keep_canonical"):
            kept = graph.dedup_keep_canonical(uniq, pairs.select("id_a", "id_b"))
        with t.span("pipeline.curation", "decontaminate"):
            clean = curation.decontaminate(kept, bench, "doc_id", "text", n=GRAM_N)
            clean = clean.persist()
            clean_ids = {r["doc_id"] for r in clean.select("doc_id").collect()}
        with t.span("pipeline.curation", "dsir_fit_score"):
            model, scored = curation.dsir_fit_score(
                clean, F.col("domain") == "target", "text", "doc_id")
        with t.span("pipeline.curation", "dsir_resample"):
            sample = curation.dsir_resample(clean, model, self.sample_n, "doc_id",
                                            "text", scored=scored)
        with t.span("pipeline.curation", "pack_sequences"):
            sample = sample.join(clean.select("doc_id", "n_tokens"), "doc_id")
            packed = curation.pack_sequences(sample, "n_tokens", "doc_id",
                                             PACK_BUDGET, num_shards=SHARDS)
            rows = [r.asDict() for r in packed.select(
                "doc_id", "n_tokens", "shard", "bin", "offset").collect()]
        with t.span("bench", "verify"):
            clean.unpersist()
            self.last_output = (pair_rows, clean_ids, rows)
            return {"mismatches": self.verify(pair_rows, clean_ids, rows)}

    def verify(self, pairs, clean_ids, rows) -> list[str]:
        bad = []
        copies = set(self.ref["exact_copies"])
        got = {(min(a, b), max(a, b)) for a, b in pairs}
        if not got:
            bad.append("no near-duplicate pairs returned")
        for a, b in sorted(got):
            if a in copies or b in copies:
                bad.append(f"pair ({a},{b}) includes an exact-dup copy")
            elif jaccard(self.texts[a], self.texts[b]) < THRESHOLD - 0.01:
                bad.append(f"pair ({a},{b}) is below the Jaccard threshold")
        # banded MinHash misses a pair at Jaccard j with probability
        # (1 - j^r)^b; more misses than that rate allows is a failure
        missed, expect_miss = 0, 0.0
        for a, b, j in self.ref["near_jaccard"]:
            if j >= THRESHOLD:
                expect_miss += (1 - j ** ROWS) ** BANDS
                missed += (min(a, b), max(a, b)) not in got
        if missed > expect_miss + 4 * math.sqrt(expect_miss) + 1:
            bad.append(f"{missed} planted pairs missed, LSH design allows"
                       f" ~{expect_miss:.1f}")
        # expected survivors: drop exact copies, non-minimum members of the
        # near-dup components (union-find over the verified pairs), and
        # every document sharing an 8-gram with the eval set
        parent = {}

        def find(x):
            while parent.get(x, x) != x:
                x = parent[x]
            return x

        for a, b in got:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        expect = {i for i in self.texts
                  if i not in copies and find(i) == i} \
            - set(self.ref["contaminated"])
        if clean_ids != expect:
            bad.append(f"curated set differs: {len(expect - clean_ids)} missing,"
                       f" {len(clean_ids - expect)} unexpected")
        ids = [r["doc_id"] for r in rows]
        if len(ids) != self.sample_n or len(set(ids)) != self.sample_n:
            bad.append(f"DSIR sample has {len(set(ids))} distinct"
                       f" of {self.sample_n}")
        if not set(ids) <= clean_ids:
            bad.append("DSIR sample draws outside the curated set")
        share = lambda s: sum(self.domain[i] == "target" for i in s) / max(1, len(s))
        if share(ids) <= share(clean_ids):
            bad.append("DSIR sample is not enriched for the target domain")
        bad += self._verify_pack(rows)
        return bad[:20]

    def _verify_pack(self, rows) -> list[str]:
        bad, cum = [], {}
        for r in sorted(rows, key=lambda r: r["doc_id"]):
            n_tok = len(self.texts[r["doc_id"]].split())
            shard = r["doc_id"] % SHARDS
            before = cum.get(shard, 0)
            want = (n_tok, shard, before // PACK_BUDGET, before % PACK_BUDGET)
            if (r["n_tokens"], r["shard"], r["bin"], r["offset"]) != want:
                bad.append(f"doc {r['doc_id']} packed {r} expected {want}")
            cum[shard] = before + n_tok
        return bad


# --------------------------------------------------------------- crawl_extract
def _norm(s: str | None) -> str:
    return " ".join((s or "").split())


class CrawlExtract(Workload):
    name = "crawl_extract"

    def reference(self) -> dict:
        with open(os.path.join(self.data, "truth.json")) as f:
            truth = json.load(f)
        return {t["url"]: {"text": _norm(t["text"]), "truncated": t["truncated"],
                           "tokens": len(t["text"].lower().split())}
                for t in truth}

    def run_pass(self, spark, t) -> dict:
        seg = os.path.join(self.data, "warc")
        with t.span("sources.read", "read_warc",
                    files_present=_files(seg, ".warc.gz")):
            recs = read_warc(spark, seg).persist()  # read by both branches
            recs.count()
        is_html = F.col("mime").startswith("text/html")
        docs = self.props["docs"]
        with t.span("pipeline.extract", "extract", docs=docs):
            html = recs.filter(is_html).select(
                "url", htmltext.extract_html_text(htmltext.fix_mojibake(
                    htmltext.decode_html_bytes(F.col("payload"), F.col("charset"))
                )["text"]).alias("text"), F.lit("extracted").alias("status"))
            other = recs.filter(~is_html).select(
                "url", docrouter.extract_document_text(
                    F.col("payload"), F.col("mime"), F.col("charset")).alias("x")
            ).select("url", "x.text", "x.status")
            extracted = html.unionByName(other).persist()
            extracted.count()
        with t.span("pipeline.text", "quality_features"):
            feats = ptext.quality_features(F.col("text"))
            rows = [r.asDict() for r in extracted.select(
                "url", "text", "status", feats["n_tokens"].alias("n_tokens")
            ).collect()]
        with t.span("bench", "verify"):
            extracted.unpersist()
            recs.unpersist()
            self.last_output = (rows,)
            bad, ok = self.verify(rows)
            return {"mismatches": bad, "docs": len(rows), "docs_ok": ok}

    def verify(self, rows) -> tuple[list[str], int]:
        bad, ok = [], 0
        seen = {r["url"] for r in rows}
        bad += [f"{u}: missing from output" for u in self.ref if u not in seen]
        for r in rows:
            want = self.ref.get(r["url"])
            if want is None:
                bad.append(f"{r['url']}: not in the crawl")
                continue
            good = r["status"] == "extracted" and want["text"] in _norm(r["text"])
            ok += good
            if not want["truncated"] and not good:
                bad.append(f"{r['url']}: text differs (status {r['status']})")
            elif good and r["n_tokens"] < want["tokens"]:
                bad.append(f"{r['url']}: token count {r['n_tokens']} too low")
        return bad[:20], ok


# ---------------------------------------------------------------- event_stream
WINDOW, WATERMARK = "5 minutes", "30 minutes"
# files per trigger: one segment per rollup batch gives the batch-duration
# tail its samples; the totals query, whose Python-stateful triggers cost
# more each, reads the whole log in one trigger
FILES_PER_TRIGGER = {"rollup": 1, "totals": None}


class EventStream(Workload):
    name = "event_stream"

    def reference(self) -> dict:
        ev = os.path.join(self.data, "events", "*.parquet")
        tiers = os.path.join(self.data, "tiers.parquet")
        con = duckdb.connect()
        try:
            con.execute("SET TimeZone='UTC'")
            wm = con.execute(f"SELECT epoch_us(max(ts)) - {30 * 60 * 10**6}"
                             f" FROM '{ev}'").fetchone()[0]
            roll = con.execute(f"""
              WITH d AS (SELECT DISTINCT ON (event_id) * FROM '{ev}'),
              w AS (SELECT user_id, time_bucket(INTERVAL '{WINDOW}', ts) AS ws,
                           count(*) AS n, round(sum(amount), 6) AS total
                    FROM d GROUP BY ALL)
              SELECT w.user_id, epoch_us(w.ws), w.n, w.total, t.tier
              FROM w ASOF LEFT JOIN '{tiers}' t
                ON w.user_id = t.user_id AND w.ws >= t.ts
              WHERE epoch_us(w.ws) + {5 * 60 * 10**6} <= {wm}
              ORDER BY 1, 2""").fetchall()
            totals = con.execute(f"""SELECT user_id, count(*),
              round(sum(amount), 6) FROM '{ev}' GROUP BY 1 ORDER BY 1""").fetchall()
        finally:
            con.close()
        return {"rollup": [list(r) for r in roll],
                "totals": [list(r) for r in totals]}

    def _source(self, spark, query: str):
        src = os.path.join(self.data, "events")
        schema = spark.read.parquet(src).schema
        return (spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", FILES_PER_TRIGGER[query]
                        or self.props["segments"])
                .parquet(src))

    def run_pass(self, spark, t) -> dict:
        import shutil

        shutil.rmtree(self.out, ignore_errors=True)
        os.makedirs(self.out)
        tiers = spark.read.parquet(os.path.join(self.data, "tiers.parquet"))
        with t.span("streaming", "stream_dedup"):
            deduped = streaming.stream_dedup(self._source(spark, "rollup"),
                                             ["event_id"],
                                             "ts", WATERMARK)
        with t.span("streaming", "windowed_rollup"):
            roll = streaming.windowed_rollup(
                deduped, "ts", WINDOW,
                {"n": F.count("*"), "total": F.sum("amount")},
                keys=["user_id"])
        roll_sink = streaming.foreach_batch_parquet_sink(
            os.path.join(self.out, "rollup"))

        def handle(batch, batch_id):
            with t.span("operators", "asof_join"):
                joined = asof_join(
                    batch.withColumn("ts", F.col("window_start")),
                    tiers.select("user_id", "ts", "tier"), "ts", by=["user_id"],
                ).drop("ts", "ts_right").withColumnRenamed("tier_right", "tier") \
                    .persist()
                joined.count()
            with t.span("streaming", "foreach_batch_parquet_sink"):
                roll_sink(joined, batch_id)
            joined.unpersist()

        with t.span("streaming", "running_totals"):
            totals = streaming.running_totals(self._source(spark, "totals"),
                                              "user_id", "amount")
        progress = []
        for name, frame, fn, mode in (
                ("rollup", roll, handle, "append"),
                ("totals", totals, streaming.foreach_batch_parquet_sink(
                    os.path.join(self.out, "totals")), "update")):
            with t.span("streaming", f"run_{name}"):
                q = (frame.writeStream.foreachBatch(fn).outputMode(mode)
                     .option("checkpointLocation",
                             os.path.join(self.out, f"ckpt-{name}"))
                     .trigger(availableNow=True).start())
                if name == "totals":
                    # the processing-time timeout of running_totals keeps
                    # scheduling empty batches, so the query never ends
                    # by itself: stop it once the input is consumed
                    want = self.props["events"]
                    while q.isActive and sum(p["numInputRows"]
                                             for p in q.recentProgress) < want:
                        time.sleep(0.02)
                    q.stop()
                elif not q.awaitTermination(120):
                    q.stop()
                    raise TimeoutError(f"{name} stream did not finish")
                if q.exception():
                    raise RuntimeError(str(q.exception()))
                progress += [p for p in q.recentProgress if p["numInputRows"]]
        batches = [{
            "trigger_s": p["durationMs"].get("triggerExecution", 0) / 1e3,
            "rows": p["numInputRows"],
            "commit_s": sum(s.get("commitTimeMs", 0)
                            for s in p.get("stateOperators", [])) / 1e3,
        } for p in progress]
        # state held at the end: the last progress of each query
        last = {p["id"]: p for p in progress if p.get("stateOperators")}
        ops = [s for p in last.values() for s in p["stateOperators"]]
        state = {"rows": sum(s["numRowsTotal"] for s in ops),
                 "bytes": sum(s["memoryUsedBytes"] for s in ops)}
        with t.span("bench", "verify"):
            bad = self.verify()
        return {"mismatches": bad, "batches": batches, "state_final": state}

    def verify(self) -> list[str]:
        con = duckdb.connect()
        try:
            con.execute("SET TimeZone='UTC'")
            roll = con.execute(f"""
              SELECT user_id, epoch_us(window_start), n, round(total, 6), tier
              FROM read_parquet('{self.out}/rollup/*/*.parquet')
              ORDER BY 1, 2""").fetchall()
            tot = con.execute(f"""
              SELECT user_id, n, round(total, 6) FROM (
                SELECT *, row_number() OVER (PARTITION BY user_id
                                             ORDER BY b DESC) AS rk
                FROM (SELECT *, CAST(regexp_extract(filename,
                        'ingest_batch=(\\d+)', 1) AS INT) AS b
                      FROM read_parquet('{self.out}/totals/*/*.parquet',
                                        filename=true)))
              WHERE rk = 1 ORDER BY 1""").fetchall()
        finally:
            con.close()
        bad = []
        want = [tuple(r) for r in self.ref["rollup"]]
        got = [tuple(r) for r in roll]
        if not _rows_close(got, want):
            bad.append(f"rollup: {len(got)} rows vs {len(want)} expected")
        if not _rows_close([tuple(r) for r in tot],
                           [tuple(r) for r in self.ref["totals"]]):
            bad.append("running totals differ from the batch reference")
        return bad


def _rows_close(got, want) -> bool:
    return len(got) == len(want) and all(
        len(a) == len(b) and all(_close(x, y, 1e-9) for x, y in zip(a, b))
        for a, b in zip(got, want))


class Composite:
    """One pass runs each part in turn on its own inputs."""

    def __init__(self, name: str, parts: list[Workload]):
        self.name, self.parts = name, parts

    def run_pass(self, spark, t) -> dict:
        detail = {"mismatches": []}
        for part in self.parts:
            d = part.run_pass(spark, t)
            detail["mismatches"] += [f"{part.name}: {m}"
                                     for m in d.pop("mismatches")]
            detail.update(d)
        return detail


WORKLOADS = {
    "ingest_stream": (TypedIngest, EventStream),
    "crawl_curate": (CrawlExtract, CorpusCurate),
}
