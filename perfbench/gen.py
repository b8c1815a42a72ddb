"""Seeded input generators for the three benchmark workloads.

Every generator writes its inputs under ``out`` and returns the planted
ground truth the output checks compare against. The same seed gives the
same bytes and the same truth; the engine only ever sees the files.

- :func:`make_unify` — Bronze/Silver/Diamond layer directories of JSONL
  plus JSON dumps for ``pipeline.run_corpus_pipeline``.
- :func:`make_curate` — a crawl-like web-document corpus plus a held-out
  eval set for ``plans.curation_pipeline.run_curation_pipeline``.
- :func:`make_tables` — the star-schema, event, document and embedding
  parquet tables the registered ``query_mix`` queries read.
"""

from __future__ import annotations

import json
import math
import os
import re
import unicodedata

import numpy as np

# --- sizes -----------------------------------------------------------------
# Chosen so that one benchmark run (JVM start, cold pass, warm passes,
# output check) stays well inside the per-run time budget on a 4-core host.
UNIFY_CANON = 1500  # distinct translation pairs before variants
CURATE_GOOD = 900  # unique docs that pass every gate
TABLES_LINEITEM = 30000  # lineitem rows; other tables scale with it

_CONS = "bcdfghjklmnpqrstvxyz"
_VOWELS = {
    "es": "aeiouáéíóúñ",
    "nah": "aeioāēīō",
    "myn": "aeiou",
}


def _vocab(rng: np.random.Generator, lang: str, n: int) -> list[str]:
    """``n`` distinct consonant-vowel words. One vowel per syllable, so no
    word can hold the 3-vowel runs the Nahuatl rules clamp; no glottal,
    saltillo or punctuation characters, so normalization changes a
    canonical text only by whitespace, case and Unicode form."""
    vow = _VOWELS[lang]
    out: set[str] = set()
    while len(out) < n:
        k = int(rng.integers(2, 5))
        w = "".join(
            _CONS[int(rng.integers(len(_CONS)))]
            + (vow[int(rng.integers(len(vow)))] if lang != "es" or rng.random() < 0.9
               else "ñ" + "aeiou"[int(rng.integers(5))])
            for _ in range(k)
        )
        out.add(w)
    return sorted(out)


def _phrase(rng, vocab, lo, hi) -> str:
    k = int(rng.integers(lo, hi + 1))
    return " ".join(vocab[i] for i in rng.integers(0, len(vocab), k))


# ---------------------------------------------------------------------------
# unify
# ---------------------------------------------------------------------------

_LAYERS = ("bronze", "silver", "diamond")


def _split_counts(n: int, ratios=(("train", 0.9), ("validation", 0.05), ("test", 0.05))):
    """Exact per-split sizes of ``operators.split.seeded_split``: cutoffs
    ``floor(n * cumulative_ratio)`` in the same float arithmetic."""
    cum, acc = [], 0.0
    for name, r in ratios[:-1]:
        acc += r
        cum.append((name, math.floor(n * acc)))
    out, prev = {}, 0
    for name, cut in cum:
        out[name] = cut - prev
        prev = cut
    out[ratios[-1][0]] = n - prev
    return {k: v for k, v in out.items() if v > 0}


def _surface(rng, text: str) -> str:
    """A surface variant that normalization maps back to ``text`` (up to
    case, which the dedup key folds): NFD decomposition, whitespace noise
    or upper case."""
    r = rng.random()
    if r < 0.25:
        return unicodedata.normalize("NFD", text)
    if r < 0.5:
        return "  " + text.replace(" ", " \t ", 1) + " "
    if r < 0.7:
        return text.upper()
    return text


def _legacy(rng, es, nah, myn) -> dict:
    """One record in one of the legacy key layouts ``legacy_coalesce``
    maps back to (es, nah, myn)."""
    r = rng.random()
    rec: dict = {}
    if r < 0.4:
        rec = {"es": es, "nah": nah, "myn": myn}
    elif r < 0.55:
        rec = {"es_translation": es, "nah_translation": nah, "myn_translation": myn}
    elif r < 0.7 and myn is None:
        rec = {"prompt": es, "chosen": nah}
    elif r < 0.85:
        rec = {"original": {"sp": es, "nah": nah, "myn": myn}}
    elif nah is None:
        rec = {"original_es": es, "original_audio_text": myn,
               "detected_language": "myn"}
    elif myn is None:
        rec = {"original_es": es, "original_audio_text": nah,
               "detected_language": "nah"}
    else:
        rec = {"es": es, "nah_translation": nah, "myn": myn}
    rec["source"] = f"src{int(rng.integers(8))}"
    return rec


def _drop_nones(rec: dict) -> dict:
    out = {}
    for k, v in rec.items():
        if isinstance(v, dict):
            v = _drop_nones(v)
        if v is not None:
            out[k] = v
    return out


def make_unify(out: str, seed: int, n_canon: int = UNIFY_CANON) -> dict:
    """Write ``out/{bronze,silver,diamond}`` and return the truth:
    ``{"stats": {input, output, filtered, splits}, "jsonl_lines",
    "corrupt_lines"}``.

    Planted: legacy key layouts, surface variants that normalization and
    the case-folded dedup key collapse, exact duplicates across layers
    (keep-best), records with no translation pair, ``es`` outside the
    3..1000 length bounds and ~0.5% malformed JSONL lines."""
    rng = np.random.default_rng([seed, 1])
    voc = {lang: _vocab(rng, lang, 1500) for lang in _VOWELS}
    canon: dict[str, tuple] = {}
    while len(canon) < n_canon:
        es = _phrase(rng, voc["es"], 3, 12)
        r = rng.random()
        nah = _phrase(rng, voc["nah"], 3, 12) if r < 0.8 else None
        myn = _phrase(rng, voc["myn"], 3, 12) if r >= 0.6 else None
        key = "|".join((x or "").lower() for x in (es, nah, myn))
        canon.setdefault(key, (es, nah, myn))
    pairs = list(canon.values())

    layers: dict[str, list[dict]] = {name: [] for name in _LAYERS}
    for i, (es, nah, myn) in enumerate(pairs):
        # every canonical pair appears in 1-3 layers (cross-layer exact
        # duplicates for keep-best); the layout depends on the index
        # only, so every seed gives the same record and line counts
        for j in range(1 + i % 3):
            layer = _LAYERS[(i + j) % 3]
            layers[layer].append(_drop_nones(_legacy(
                rng, _surface(rng, es),
                None if nah is None else _surface(rng, nah),
                None if myn is None else _surface(rng, myn),
            )))
    n_invalid = n_canon // 10
    for i in range(n_invalid):
        layer = _LAYERS[i % 3]
        kind = i % 5
        if kind == 0:  # no target language
            rec = {"es": _phrase(rng, voc["es"], 3, 8)}
        elif kind == 1:  # no pivot
            rec = {"nah": _phrase(rng, voc["nah"], 3, 8)}
        elif kind == 2:  # whitespace-only pivot is NULL after strip
            rec = {"es": "   ", "nah": _phrase(rng, voc["nah"], 3, 8)}
        elif kind == 3:  # pivot shorter than 3 characters
            rec = {"es": "ba", "myn": _phrase(rng, voc["myn"], 3, 8)}
        else:  # pivot longer than 1000 characters
            rec = {"es": _phrase(rng, voc["es"], 200, 220),
                   "nah": _phrase(rng, voc["nah"], 3, 8)}
        rec["source"] = "noise"
        layers[layer].append(rec)

    n_input = 0
    n_lines = n_corrupt = 0
    for li, name in enumerate(_LAYERS):
        d = os.path.join(out, name)
        os.makedirs(d, exist_ok=True)
        recs = layers[name]
        order = rng.permutation(len(recs))
        recs = [recs[i] for i in order]
        n_input += len(recs)
        # silver also ships JSON dumps: one root-list, one {"items": [...]}
        dump = recs[: len(recs) // 20] if name == "silver" else []
        lines = recs[len(dump):]
        if dump:
            half = len(dump) // 2
            with open(os.path.join(d, "dump_list.json"), "w", encoding="utf-8") as f:
                json.dump(dump[:half], f, ensure_ascii=False, indent=1)
            with open(os.path.join(d, "dump_items.json"), "w", encoding="utf-8") as f:
                json.dump({"items": dump[half:]}, f, ensure_ascii=False, indent=1)
        n_files = 4
        for fi in range(n_files):
            part = lines[fi::n_files]
            text = [json.dumps(r, ensure_ascii=False) for r in part]
            for j in range(max(1, len(text) // 200)):
                # truncated record: PERMISSIVE mode routes it to
                # _corrupt_record and the reader skips it
                pos = int(rng.integers(len(text) + 1))
                text.insert(pos, text[int(rng.integers(len(part)))][:-7])
                n_corrupt += 1
            n_lines += len(text)
            with open(os.path.join(d, f"part-{li}{fi}.jsonl"), "w", encoding="utf-8") as f:
                f.write("\n".join(text) + "\n")
    n_out = len(pairs)
    return {
        "stats": {
            "input": n_input,
            "output": n_out,
            "filtered": n_input - n_out,
            "splits": _split_counts(n_out),
        },
        "jsonl_lines": n_lines,
        "corrupt_lines": n_corrupt,
    }


# ---------------------------------------------------------------------------
# curate
# ---------------------------------------------------------------------------

CURATE_CAP = 40  # CurationConfig.max_docs_per_domain for the benchmark
_PII = (
    (re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"), "<EMAIL>"),
    (re.compile(r"\+[0-9]{1,3}[ -][0-9]{2,4}[ -][0-9]{3,4}(?:[ -][0-9]{2,4})?"),
     "<PHONE>"),
    (re.compile(r"\b[0-9]{1,3}(?:\.[0-9]{1,3}){3}\b"), "<IP>"),
)


def redact(text: str) -> str:
    """Python mirror of ``functions.pii.redact_pii`` on the planted
    spans (emails first, then phones, then IPv4s)."""
    for pat, tok in _PII:
        text = pat.sub(tok, text)
    return text


def _words(rng, vocab, n) -> list[str]:
    """``n`` distinct words: every token and bigram of a doc is unique, so
    random docs never trip the repetition gate."""
    return [vocab[i] for i in rng.choice(len(vocab), n, replace=False)]


def make_curate(out: str, seed: int, n_good: int = CURATE_GOOD) -> dict:
    """Write ``out/docs.parquet`` (doc_id, text, url) and
    ``out/evalset.parquet`` (doc_id, text); return the truth
    ``{"stats": {...}, "pair_docs": [(doc_id, text), ...]}``.

    Categories are disjoint, so each stats cell is the size of its
    category, except ``near_dups``, which the oracle's banded candidate
    scheme enumerates over ``pair_docs`` (see :func:`near_dup_truth`)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(rng, "es", 6000)
    accented = [w for w in vocab if any(c in w for c in "áéíóúñ")]
    # (text, url, category, page): ``page`` names the re-crawled page a
    # tracking-variant url canonicalizes to; every other url is unique
    docs: list[tuple[str, str, str, str | None]] = []
    n_urls = [0]

    def add(text, cat="good", url=None, page=None):
        if url is None:
            # three docs per registered domain, far under the cap
            n_urls[0] += 1
            url = f"https://h{n_urls[0] // 3}-{seed}.com/p/{n_urls[0]}"
        docs.append((text, url, cat, page))

    def doc(lo=25, hi=90) -> str:
        return " ".join(_words(rng, vocab, int(rng.integers(lo, hi + 1)))) + "."

    for _ in range(n_good):
        add(doc())
    n = n_good // 30
    for i in range(n):  # PII: redacted, otherwise good
        w = _words(rng, vocab, 40)
        w.insert(10, f"user{i}@mail{i % 7}.org")
        w.insert(25, f"+52 55 {1000 + i} {10 + i % 90}")
        w.insert(30, f"10.{i % 250}.{(i * 7) % 250}.{(i * 13) % 250}")
        add(" ".join(w) + ".")
    eval_docs = [doc(40, 60) for _ in range(n)]
    for i in range(n):  # eval leaks: a 15-token span of one eval doc
        w = _words(rng, vocab, 30)
        w[12:12] = eval_docs[i].split()[5:20]
        add(" ".join(w) + ".", "contaminated")
    for i in range(n):  # C4 failures, one rule each
        w = _words(rng, vocab, 40)
        kind = i % 4
        if kind == 0:
            t = doc(8, 15)
        elif kind == 1:
            t = " ".join(w[:20] + ["lorem", "ipsum"] + w[20:]) + "."
        elif kind == 2:
            t = " ".join(w[:15] + ["{" + w[15] + "}"] + w[16:]) + "."
        else:
            t = " ".join(w)
        add(t, "c4")
    for i in range(n):  # repetition: one token is 40% of the doc
        w = _words(rng, vocab, 24)
        for j in range(16):
            w.insert(2 * j + 1, w[0])
        add(" ".join(w) + ".", "repetition")
    for i in range(n):  # mojibake: UTF-8 bytes read as cp1252, repaired
        w = _words(rng, vocab, 35) + [accented[int(rng.integers(len(accented)))]]
        rng.shuffle(w)
        clean = " ".join(w) + "."
        add(clean.encode("utf-8").decode("cp1252"), "mojibake:" + clean)
    for i in range(n):  # byte-identical mirror families on distinct hosts
        t = doc(40, 80)
        for _ in range(2 + i % 3):
            add(t)
    for i in range(n):  # near-dup families: one- or two-word edits
        base = _words(rng, vocab, int(rng.integers(50, 80)))
        add(" ".join(base) + ".")
        for _ in range(1 + i % 3):
            v = list(base)
            for _ in range(1 + int(rng.integers(2))):
                v[int(rng.integers(len(v)))] = vocab[int(rng.integers(len(vocab)))]
            add(" ".join(v) + ".")
    for i in range(n):  # re-crawls of one page under tracking variants
        t, page = doc(), f"https://www.site{i}-{seed}.org/a/{i}"
        variants = [page, page + "?utm_source=feed", page + "#top",
                    page.replace("www.", "WWW.") + "/?ref=x"]
        for u in variants[: 2 + i % 3]:
            add(t, url=u, page=page)
    n_big = CURATE_CAP + n
    for i in range(n_big):  # one registered domain over the per-domain cap
        add(doc(), "capped", url=f"https://news.bigsite{seed}.com/s/{i}")

    docs = [docs[i] for i in rng.permutation(len(docs))]
    ids = [1000 + 3 * i for i in range(len(docs))]
    os.makedirs(out, exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": [d[0] for d in docs],
        "url": [d[1] for d in docs],
    }), os.path.join(out, "docs.parquet"))
    pq.write_table(pa.table({
        "doc_id": pa.array(range(len(eval_docs)), pa.int64()),
        "text": eval_docs,
    }), os.path.join(out, "evalset.parquet"))

    # URL dedup keeps rank 1 by (raw url, doc_id) per canonical page
    keep: dict = {}
    for did, (_, url, _, page) in zip(ids, docs):
        k = page or did
        if k not in keep or (url, did) < keep[k]:
            keep[k] = (url, did)
    survivors = sorted(did for _, did in keep.values())
    by_id = dict(zip(ids, docs))
    cats = [by_id[d][2] for d in survivors]
    pair_docs = []
    for did in survivors:
        text, _, cat, _ = by_id[did]
        clean = cat.split(":", 1)[1] if cat.startswith("mojibake:") else text
        pair_docs.append((did, redact(clean)))
    stats = {
        "input": len(docs),
        "url_dups": len(docs) - len(survivors),
        "domain_capped": n_big - CURATE_CAP,
        "failed_c4": cats.count("c4"),
        "failed_repetition": cats.count("repetition"),
        "contaminated": cats.count("contaminated"),
        "repaired_encoding": sum(c.startswith("mojibake:") for c in cats),
        "substring_tokens_removed": 0,
    }
    return {
        "stats": stats,
        "pair_docs": pair_docs,
        "capped_ids": [d for d, c in zip(survivors, cats) if c == "capped"],
    }


def near_dup_truth(truth: dict) -> dict:
    """Complete the curate truth: enumerate the verified near-dup pairs
    with the oracle's banded scheme (``registry.banded_pairs_oracle_sql``,
    the pipeline's 6 hashes x 2 per band at Jaccard 0.8) in DuckDB,
    label components by union-find with min-id canonicals
    (``duplicate_clusters``' contract) and derive ``near_dups`` and
    ``output``. Returns the full expected stats dict plus the oracle's
    candidate and verified pair counts."""
    import duckdb
    import pandas as pd

    from nahuatl_data_pipeline_spark.registry import (
        banded_candidates_ctes,
        banded_pairs_oracle_sql,
    )

    pair_docs, capped_ids = truth["pair_docs"], truth["capped_ids"]
    con = duckdb.connect()
    try:
        con.register("pair_docs", pd.DataFrame(pair_docs, columns=["doc_id", "text"]))
        base = "SELECT doc_id, text FROM pair_docs"
        pairs = con.sql(banded_pairs_oracle_sql(
            base, 0.8, num_hashes=6, band_size=2)).fetchall()
        n_cand = con.sql(
            f"WITH base AS ({base}), {banded_candidates_ctes(6, 2)} "
            "SELECT COUNT(*) FROM cand").fetchone()[0]
    finally:
        con.close()
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, _ in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    members = set(parent)
    if members & set(capped_ids):
        # the cap keeps a hash-ordered sample, so a capped doc inside a
        # pair graph would make the truth depend on which ones survive
        raise ValueError("a capped doc is in a near-dup pair; truth undefined")
    near = sum(1 for x in members if find(x) != x)
    out = dict(truth["stats"])
    out["near_dups"] = near
    kept = len(pair_docs) - len(capped_ids) + CURATE_CAP
    out["output"] = (kept - out["failed_c4"] - out["failed_repetition"]
                     - out["contaminated"] - near)
    return {"stats": out, "candidate_pairs": int(n_cand), "verified_pairs": len(pairs)}


# ---------------------------------------------------------------------------
# query_mix tables
# ---------------------------------------------------------------------------

_DOC_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()


def make_tables(out: str, seed: int, n_lineitem: int = TABLES_LINEITEM) -> dict:
    """Write the ten ``schemas.TESTDATA_TABLES`` parquet files at a scale
    where lineitem has ``n_lineitem`` rows (sf0.1 ratios: orders = 1/4,
    customer = 1/40, part = 1/30, supplier = 1/600 of lineitem). Returns
    ``{table: rows}``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 3])
    n_li = n_lineitem
    n_ord, n_cust = n_li // 4, n_li // 40
    n_part, n_supp = n_li // 30, max(n_li // 600, 10)
    n_ev, n_doc, n_emb = n_li // 6, max(n_li // 120, 100), max(n_li // 120, 100)
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start, span, n):
        base = np.datetime64(start, "us")
        return base + rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")

    def pick(vals, n):
        return [vals[i] for i in rng.integers(0, len(vals), n)]

    seg = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    adj = "red small hot old large blue cold new".split()
    noun = "widget ring bolt gear plate rod anvil nut".split()
    types = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
    prio = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    ev_types = ["click", "error", "purchase", "signup", "view"]
    langs = ["en"] * 8 + ["de", "es", "fr", "zh"] * 3
    pk = np.arange(n_part, dtype=np.int64)

    docs = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.02:  # planted exact duplicate
            docs.append(docs[int(rng.integers(i))])
        else:
            docs.append(" ".join(pick(_DOC_VOCAB, int(rng.integers(10, 101)))))
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_emb)
    emb = centers[labels] + 0.8 * rng.normal(size=(n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    ts = np.sort(np.datetime64("2024-01-01", "us") + rng.integers(
        0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]"))

    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": pa.array(money(-1000, 10000, n_cust), f64),
            "c_mktsegment": pick(seg, n_cust)}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": pa.array(money(-1000, 10000, n_supp), f64)}),
        "part": pa.table({
            "p_partkey": pa.array(pk, i64),
            "p_name": [f"{a} {b}" for a, b in zip(pick(adj, n_part), pick(noun, n_part))],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
            "p_type": pick(types, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": pa.array(np.round(900 + (pk % 1000) / 10, 2), f64)}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": pick(["F", "O", "P"], n_ord),
            "o_totalprice": pa.array(money(1000, 500000, n_ord), f64),
            "o_orderdate": pa.array(days("1995-01-01", 2405, n_ord), pa.timestamp("us")),
            "o_orderpriority": pick(prio, n_ord)}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(float), f64),
            "l_extendedprice": pa.array(money(900, 105000, n_li), f64),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, f64),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, f64),
            "l_returnflag": pick(["A", "N", "R"], n_li),
            "l_linestatus": pick(["F", "O"], n_li),
            "l_shipdate": pa.array(days("1995-01-02", 2499, n_li), pa.timestamp("us"))}),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_ev), i64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(n_ev // 67, 10), n_ev), i64),
            "event_type": pick(ev_types, n_ev),
            "value": pa.array(np.round(rng.exponential(20.0, n_ev), 2), f64),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
        "documents": pa.table({
            "doc_id": pa.array(np.arange(n_doc), i64),
            "text": docs,
            "lang": pick(langs, n_doc),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array([len(t) for t in docs], i64)}),
        "embeddings": pa.table({
            "vec_id": pa.array(np.arange(n_emb), i64),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(labels, i32)}),
    }
    os.makedirs(out, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
