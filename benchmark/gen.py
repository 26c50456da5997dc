"""Seeded input generators, one per workload.

Each generator takes the seed and a scale, writes its inputs once into a
directory of its own under the benchmark's data area, and returns the
input properties it planted (shares, sizes, ground truth) as a JSON-able
dict.  The same (workload, scale, seed) always yields byte-identical
files: every random choice comes from a ``numpy`` generator seeded from
the arguments, and archive timestamps are pinned.

The generators write with ``pyarrow`` and the library's own document
and WARC writers only; no Spark runs here, so the program under test
receives nothing but the generated files.
"""

from __future__ import annotations

import io
import json
import os
import shutil
import zipfile

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# scale -> size knobs.  "full" is what a measured pass processes; "tiny"
# feeds the untimed warm pass of set-up and the self-tests.
SIZES = {
    "typed_ingest": {"tiny": {"rows": 2_000, "files": 4, "elements": 20_000},
                     "full": {"rows": 30_000, "files": 8,
                              "elements": 1_000_000}},
    "corpus_curate": {"tiny": {"docs": 100}, "full": {"docs": 2_000}},
    "crawl_extract": {"tiny": {"docs": 22, "segments": 2},
                      "full": {"docs": 220, "segments": 4}},
    "event_stream": {"tiny": {"events": 500, "segments": 1},
                     "full": {"events": 12_000, "segments": 24}},
}


def _rng(workload: str, scale: str, seed: int) -> np.random.Generator:
    tag = sum(ord(c) * 31 ** i for i, c in enumerate(workload + scale))
    return np.random.default_rng([int(seed), tag % (1 << 32)])


def _write_table(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def ensure(workload: str, scale: str, seed: int, root: str) -> tuple[str, dict]:
    """Generate (once) and return ``(data_dir, properties)``."""
    out = os.path.join(root, f"{workload}-{scale}-{seed}")
    props_path = os.path.join(out, "props.json")
    if not os.path.exists(props_path):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        props = GENERATORS[workload](_rng(workload, scale, seed), tmp,
                                     **SIZES[workload][scale])
        props.update(workload=workload, scale=scale, seed=int(seed),
                     input_bytes=_tree_bytes(tmp))
        with open(os.path.join(tmp, "props.json"), "w") as f:
            json.dump(props, f, sort_keys=True)
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    with open(props_path) as f:
        return out, json.load(f)


def _tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, n))
               for d, _, names in os.walk(path) for n in names)


# ---------------------------------------------------------------- typed_ingest
BOOL_TRUE = ("true", "T", "yes", "Y", "on", "1")
BOOL_FALSE = ("false", "F", "no", "N", "off", "0")
NA_TOKENS = ("NA", "N/A", "null", "None", "nan", "")
BAD_INT = ("12x", "abc", "?", "1.2.3", "--")
BAD_FLOAT = ("x1.5", "abc", "?", "1..2")
BAD_BOOL = ("maybe", "2", "ja", "?")
BAD_DATE = ("not a date", "??/??/????", "32/13/2020 99:99:99")
BAD_CLOCK = ("x:y:z", "abc", "?")
SPECIAL_FLOAT = ("nan", "inf", "-inf", "NaN", "Inf")


def _typed_ingest(rng, out, rows, files, elements):
    # chosen shares: no measured source in the repository
    null_share, bad_share, special_share = 0.05, 0.03, 0.02

    def dirty(values, bad_tokens, extra=None, extra_share=0.0):
        u = rng.random(rows)
        vals = np.asarray(values, dtype=object)
        bad = rng.choice(np.asarray(bad_tokens, dtype=object), rows)
        vals = np.where(u < bad_share, bad, vals)
        if extra is not None:
            ex = rng.choice(np.asarray(extra, dtype=object), rows)
            vals = np.where((u >= bad_share) & (u < bad_share + extra_share),
                            ex, vals)
        vals = np.where(u > 1.0 - null_share, None, vals)
        return vals

    ids = rng.permutation(rows)
    qty = rng.integers(-30_000, 30_000, rows)
    code = rng.integers(0, 2_000_000_000, rows)
    price = np.round(rng.normal(100.0, 40.0, rows), 3)
    halves = rng.integers(-2_000, 2_000, rows) / 2.0
    bools = np.where(rng.random(rows) < 0.5,
                     rng.choice(np.asarray(BOOL_TRUE, dtype=object), rows),
                     rng.choice(np.asarray(BOOL_FALSE, dtype=object), rows))
    base = np.datetime64("2020-01-01T00:00:00", "s")

    def stamps(fmt):
        secs = rng.integers(0, 5 * 365 * 86400, rows)
        ts = pa.array(base + secs.astype("timedelta64[s]"))
        return pc.strftime(ts, format=fmt).to_numpy(zero_copy_only=False)

    def text(ints):
        return pc.cast(pa.array(ints), pa.string())

    iso = stamps("%Y-%m-%d %H:%M:%S")
    dmy = stamps("%d/%m/%Y %H:%M:%S")
    clock_s = rng.integers(0, 100 * 3600, rows)
    clocks = pc.binary_join_element_wise(
        text(clock_s // 3600),
        pc.utf8_lpad(text(clock_s // 60 % 60), 2, "0"),
        pc.utf8_lpad(text(clock_s % 60), 2, "0"), ":",
    ).to_numpy(zero_copy_only=False)
    cents = rng.integers(-10_000_000, 10_000_000, rows)
    amounts = pc.binary_join_element_wise(
        pc.if_else(pa.array(cents < 0), "-", ""), text(np.abs(cents) // 100),
        ".", pc.utf8_lpad(text(np.abs(cents) % 100), 2, "0"), "",
    ).to_numpy(zero_copy_only=False)

    na_bools = np.asarray(NA_TOKENS, dtype=object)
    flag = dirty(bools, BAD_BOOL, na_bools, 0.05)
    cols = {
        "id": np.asarray(ids.astype(str), dtype=object),
        "qty": np.asarray(qty.astype(str), dtype=object),
        "code": dirty(code.astype(str), BAD_INT),
        "price": dirty(price.astype(str), BAD_FLOAT, SPECIAL_FLOAT,
                       special_share),
        "half": np.asarray(halves.astype(str), dtype=object),
        "flag": flag,
        "ts_iso": np.asarray(iso, dtype=object),
        "ts_dmy": dirty(dmy, BAD_DATE),
        "dur": dirty(clocks, BAD_CLOCK),
        "amount": np.asarray(amounts, dtype=object),
    }
    table = pa.table({k: pa.array(v, type=pa.string()) for k, v in cols.items()})
    os.makedirs(os.path.join(out, "raw.parquet"))
    step = -(-rows // files)
    for i in range(files):
        _write_table(table.slice(i * step, step),
                     os.path.join(out, "raw.parquet", f"part-{i:05d}.parquet"))
    # one long string column for the element-wise scan: boolean words,
    # NA tokens and integers, in proportions the detector must union
    kinds = rng.choice(3, elements, p=[0.6, 0.1, 0.3])
    words = np.asarray(BOOL_TRUE[:5] + BOOL_FALSE[:5] + NA_TOKENS[:4],
                       dtype=object)
    elems = np.where(kinds == 0, rng.choice(words[:10], elements),
                     np.where(kinds == 1, rng.choice(words[10:], elements),
                              rng.integers(-999, 999, elements).astype(str)))
    _write_table(pa.table({"value": pa.array(elems, type=pa.string())}),
                 os.path.join(out, "elements.parquet"))
    return {
        "rows": rows, "files": files, "columns": len(cols),
        "elements": elements, "element_kinds": ["bool", "na", "int"],
        "null_share": null_share, "invalid_share": bad_share,
        "float_special_share": special_share, "bool_na_share": 0.05,
        "clean_columns": ["id", "qty", "half", "ts_iso", "amount"],
        "dirty_columns": ["code", "price", "flag", "ts_dmy", "dur"],
    }


# --------------------------------------------------------------- corpus_curate
# The corpus reproduces the duplicate structure measured on the
# repository's sf0.1 test corpus (the 5,000-row ``documents`` table of
# TESTDATA.md; shingle Jaccard over character 5-grams, all 12.5 M pairs):
# 31 distinct words with a nearly flat rank-frequency curve (fitted
# Zipf exponent 0.16), 10 to 100 tokens per document (median 54),
# background pair similarity around 0.17 (the template-heavy regime
# dedup.near_dup_pairs_minhash documents), 0.16% exact copies, and 4.9%
# near copies that differ from their source by one inserted or deleted
# token (pairs at Jaccard 0.96-0.99; 223 of 233 groups are pairs, the
# rest triples or larger).  The target-domain skew and the
# contamination share have no measured source: they are chosen, and
# the properties say so.
CORPUS_MEASURED = {
    "vocab": 31, "zipf_exponent": 0.16, "tokens_min": 10, "tokens_max": 100,
    "exact_dup_share": 0.0016, "near_dup_share": 0.049,
    "near_dup_group_beyond_pair_share": 0.043,
}
CORPUS_CHOSEN = {"contamination_share": 0.02, "target_domain_share": 0.2,
                 "target_word_weight": 8.0, "target_words": 4}


def _vocab(rng, n):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words, seen = [], set()
    while len(words) < n:
        w = "".join(rng.choice(letters, int(rng.integers(1, 9))))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return np.asarray(words, dtype=object)


def _zipf_tokens(rng, vocab, probs, n):
    return list(vocab[rng.choice(len(vocab), n, p=probs)])


def _corpus_curate(rng, out, docs):
    m, c = CORPUS_MEASURED, CORPUS_CHOSEN
    vocab = _vocab(rng, m["vocab"])
    probs = np.arange(1, len(vocab) + 1, dtype=float) ** -m["zipf_exponent"]
    probs /= probs.sum()
    # the DSIR target domain over-weights a few words
    target_probs = probs.copy()
    target_probs[:c["target_words"]] *= c["target_word_weight"]
    target_probs /= target_probs.sum()

    n_exact = max(1, round(docs * m["exact_dup_share"]))
    n_near = round(docs * m["near_dup_share"])
    n_base = docs - n_exact - n_near
    texts, domains = [], []
    every = round(1 / c["target_domain_share"])
    for i in range(n_base):
        target = i % every == 0
        n_tok = int(rng.integers(m["tokens_min"], m["tokens_max"] + 1))
        texts.append(" ".join(_zipf_tokens(
            rng, vocab, target_probs if target else probs, n_tok)))
        domains.append("target" if target else "web")

    bench_texts = [" ".join(_zipf_tokens(rng, vocab, probs, 30))
                   for _ in range(40)]
    # plant one 12-token span of an eval text into a share of base docs
    contaminated = sorted(rng.choice(n_base, int(docs * c["contamination_share"]),
                                     replace=False).tolist())
    for i in contaminated:
        b = bench_texts[int(rng.integers(len(bench_texts)))].split()
        s = int(rng.integers(0, len(b) - 12))
        toks = texts[i].split()
        p = int(rng.integers(0, len(toks)))
        texts[i] = " ".join(toks[:p] + b[s:s + 12] + toks[p:])

    # sources of copies: distinct base docs, disjoint between exact/near;
    # a share of near copies reuses an earlier near source, so groups of
    # three or more occur as in the measured corpus
    sources = rng.choice(n_base, n_exact + n_near, replace=False)
    exact_src, near_src = sources[:n_exact], list(sources[n_exact:])
    for k in range(1, len(near_src)):
        if rng.random() < m["near_dup_group_beyond_pair_share"]:
            near_src[k] = near_src[int(rng.integers(k))]
    for src in exact_src:
        t = texts[src]
        texts.append(t.upper() if rng.random() < 0.3 else "  " + t + " ")
        domains.append(domains[src])
    near_pairs = []
    for src in near_src:
        toks = texts[src].split()
        j = int(rng.integers(len(toks)))
        if rng.random() < 0.5:  # measured: inserts and deletes about even
            toks.insert(j, vocab[int(rng.choice(len(vocab), p=probs))])
        else:
            del toks[j]
        near_pairs.append([int(src), len(texts)])
        texts.append(" ".join(toks))
        domains.append(domains[src])

    # shuffle ids so copies are not adjacent to their sources
    order = rng.permutation(len(texts))
    new_id = np.empty(len(texts), dtype=np.int64)
    new_id[order] = np.arange(len(texts))
    ids = new_id
    table = pa.table({
        "doc_id": pa.array(ids, type=pa.int64()),
        "text": pa.array(texts, type=pa.string()),
        "domain": pa.array(domains, type=pa.string()),
    }).take(pa.array(np.argsort(ids)))
    os.makedirs(os.path.join(out, "corpus.parquet"))
    step = -(-docs // 4)
    for i in range(4):
        _write_table(table.slice(i * step, step),
                     os.path.join(out, "corpus.parquet", f"part-{i:05d}.parquet"))
    _write_table(pa.table({"bench_id": list(range(len(bench_texts))),
                           "text": bench_texts}),
                 os.path.join(out, "bench.parquet"))
    return {
        "docs": docs, "measured_profile": m, "chosen": c,
        "exact_copies": n_exact, "near_copies": n_near,
        "eval_texts": len(bench_texts),
        "target_domain_docs": domains.count("target"),
        "exact_pairs": [[int(ids[s]), int(ids[n_base + k])]
                        for k, s in enumerate(exact_src)],
        "near_pairs": [[int(ids[a]), int(ids[b])] for a, b in near_pairs],
        "contaminated": sorted(int(ids[i]) for i in contaminated),
    }


# --------------------------------------------------------------- crawl_extract
FORMATS = ("html", "pdf", "rtf", "doc", "xls", "ppt",
           "docx", "pptx", "xlsx", "odt", "epub")
MIMES = {
    "html": "text/html", "pdf": "application/pdf", "rtf": "application/rtf",
    "doc": "application/msword", "xls": "application/vnd.ms-excel",
    "ppt": "application/vnd.ms-powerpoint",
    "docx": "application/vnd.openxmlformats-officedocument."
            "wordprocessingml.document",
    "pptx": "application/vnd.openxmlformats-officedocument."
            "presentationml.presentation",
    "xlsx": "application/vnd.openxmlformats-officedocument.spreadsheetml.sheet",
    "odt": "application/vnd.oasis.opendocument.text",
    "epub": "application/epub+zip",
}
_WORDS = ("data", "spark", "curation", "river", "stone", "quiet", "market",
          "signal", "harbor", "winter", "garden", "engine", "paper", "light",
          "café", "naïve", "résumé", "über", "façade", "piñata")


def _pin_zip(blob: bytes) -> bytes:
    """Rewrite a zip archive with fixed member timestamps (the writers
    stamp the wall clock), keeping member order and compression."""
    src = zipfile.ZipFile(io.BytesIO(blob))
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as dst:
        for info in src.infolist():
            pinned = zipfile.ZipInfo(info.filename, (1980, 1, 1, 0, 0, 0))
            pinned.compress_type = info.compress_type
            pinned.external_attr = info.external_attr
            dst.writestr(pinned, src.read(info.filename))
    return buf.getvalue()


def _render(fmt: str, paras: list[str], mojibake: bool) -> tuple[bytes, str | None]:
    from bertrand_spark.pipeline import (docxtext, doctext, epubtext, pdftext,
                                         ppttext, rtftext, xlstext)
    import html as _html

    joined = "\n".join(paras)
    if fmt == "html":
        body = "".join(f"<p>{_html.escape(p)}</p>" for p in paras)
        page = (f"<html><head><meta charset=\"utf-8\"><title>doc</title>"
                f"</head><body><nav><a href=\"/\">home</a></nav>{body}"
                f"</body></html>")
        raw = page.encode("utf-8")
        if mojibake:  # UTF-8 bytes misread as cp1252, then stored as UTF-8
            raw = raw.decode("cp1252", errors="replace").encode("utf-8")
        return raw, "utf-8"
    writers = {
        "pdf": lambda: pdftext.pdf_write([joined]),
        "rtf": lambda: rtftext.rtf_write(joined),
        "doc": lambda: doctext.doc_write(joined),
        "xls": lambda: xlstext.xls_write([[[p] for p in paras]]),
        "ppt": lambda: ppttext.ppt_write([joined]),
        "docx": lambda: _pin_zip(docxtext.docx_write(paras)),
        "pptx": lambda: _pin_zip(docxtext.pptx_write([paras])),
        "xlsx": lambda: _pin_zip(docxtext.xlsx_write([[[p] for p in paras]])),
        "odt": lambda: _pin_zip(docxtext.odt_write(paras)),
        "epub": lambda: _pin_zip(epubtext.epub_write(
            [f"<p>{_html.escape(p)}</p>" for p in paras])),
    }
    return writers[fmt](), None


def _crawl_extract(rng, out, docs, segments):
    from bertrand_spark.sources.warc import warc_write

    # chosen shares, no measured source; mojibake applies to html docs
    truncated_share, mojibake_share = 0.05, 0.25
    words = np.asarray(_WORDS, dtype=object)
    records, truth = [], []
    for i in range(docs):
        fmt = FORMATS[i % len(FORMATS)]
        n_para = int(rng.integers(3, 12))
        paras = [" ".join(rng.choice(words, int(rng.integers(8, 40))))
                 .capitalize() + "." for _ in range(n_para)]
        moji = fmt == "html" and rng.random() < mojibake_share
        body, charset = _render(fmt, paras, moji)
        trunc = bool(rng.random() < truncated_share)
        if trunc:
            body = body[: len(body) // 3]
        url = f"http://site{i % 17}.example/{fmt}/{i}"
        records.append({"url": url, "ts": "2024-01-01T00:00:00Z", "body": body,
                        "mime": MIMES[fmt], "charset": charset})
        truth.append({"url": url, "format": fmt, "text": "\n".join(paras),
                      "truncated": trunc, "mojibake": bool(moji),
                      "bytes": len(body)})
    seg_dir = os.path.join(out, "warc")
    os.makedirs(seg_dir)
    for s in range(segments):
        with open(os.path.join(seg_dir, f"seg-{s:03d}.warc.gz"), "wb") as f:
            f.write(warc_write(records[s::segments]))
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f)
    sizes = [t["bytes"] for t in truth]
    return {
        "docs": docs, "segments": segments, "formats": list(FORMATS),
        "truncated_share": truncated_share,
        "html_mojibake_share": mojibake_share,
        "truncated_docs": sum(t["truncated"] for t in truth),
        "mojibake_docs": sum(t["mojibake"] for t in truth),
        "payload_bytes_total": int(sum(sizes)),
        "payload_bytes_max": int(max(sizes)),
    }


# ---------------------------------------------------------------- event_stream
# events per key as measured on the repository's sf0.1 ``events`` table
# (100,000 events over 1,500 users); that table has no duplicates and
# arrives in event-time order, so the duplicate and lateness shares and
# delays below are chosen, not measured
EVENTS_PER_KEY = 100_000 / 1_500


def _event_stream(rng, out, events, segments):
    keys = max(2, round(events / EVENTS_PER_KEY))
    dup_share, late_share = 0.08, 0.10
    span_s, late_max_s, dup_delay_max_s = 4 * 3600, 600, 300
    n_orig = int(events / (1 + dup_share))
    t0 = np.datetime64("2024-03-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(rng.integers(0, span_s * 1_000_000, n_orig)) + t0
    arrival = ts.copy()
    late = rng.random(n_orig) < late_share
    # a late event keeps its event time but arrives up to late_max_s later
    arrival[late] += rng.integers(1, late_max_s * 1_000_000, int(late.sum()))
    users = rng.integers(0, keys, n_orig)
    amount = np.round(rng.gamma(2.0, 20.0, n_orig), 2)
    eid = np.arange(n_orig, dtype=np.int64)
    dups = rng.choice(n_orig, events - n_orig, replace=False)
    d_arr = arrival[dups] + rng.integers(1, dup_delay_max_s * 1_000_000,
                                         len(dups))
    all_eid = np.concatenate([eid, eid[dups]])
    all_ts = np.concatenate([ts, ts[dups]])
    all_arr = np.concatenate([arrival, d_arr])
    all_user = np.concatenate([users, users[dups]])
    all_amt = np.concatenate([amount, amount[dups]])
    order = np.argsort(all_arr, kind="stable")
    table = pa.table({
        "event_id": pa.array(all_eid[order]),
        "user_id": pa.array(all_user[order].astype(np.int32)),
        "ts": pa.array(all_ts[order], type=pa.timestamp("us", tz="UTC")),
        "amount": pa.array(all_amt[order]),
    })
    seg_dir = os.path.join(out, "events")
    os.makedirs(seg_dir)
    step = -(-events // segments)
    for s in range(segments):
        path = os.path.join(seg_dir, f"seg-{s:03d}.parquet")
        _write_table(table.slice(s * step, step), path)
        # a file stream takes files in modification-time order; files
        # written within one millisecond would tie, so pin distinct times
        os.utime(path, (1_700_000_000 + s, 1_700_000_000 + s))
    # static dimension for the as-of join: each user's tier changes a few
    # times over the span
    tier_rows = {"user_id": [], "ts": [], "tier": []}
    for u in range(keys):
        changes = np.sort(rng.integers(-3600, span_s, 4)) * 1_000_000 + t0
        for c in changes:
            tier_rows["user_id"].append(u)
            tier_rows["ts"].append(int(c))
            tier_rows["tier"].append(int(rng.integers(1, 6)))
    _write_table(pa.table({
        "user_id": pa.array(tier_rows["user_id"], type=pa.int32()),
        "ts": pa.array(tier_rows["ts"], type=pa.timestamp("us", tz="UTC")),
        "tier": pa.array(tier_rows["tier"], type=pa.int32()),
    }), os.path.join(out, "tiers.parquet"))
    return {
        "events": events, "segments": segments, "keys": keys,
        "duplicate_share": round((events - n_orig) / events, 4),
        "late_share": late_share, "late_max_s": late_max_s,
        "dup_delay_max_s": dup_delay_max_s, "event_span_s": span_s,
        "tier_rows": len(tier_rows["tier"]),
    }


GENERATORS = {
    "typed_ingest": _typed_ingest,
    "corpus_curate": _corpus_curate,
    "crawl_extract": _crawl_extract,
    "event_stream": _event_stream,
}
