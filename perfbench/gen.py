"""Seeded input generators for the benchmark's workloads.

Each generator takes the seed and writes parquet: the program's inputs,
plus a truth table (planted roles and expected values) that only the
benchmark's output checks read. All randomness comes from one
numpy PCG64 stream per seed, drawn in a fixed order, so the same seed
writes the same content. Planted shares are exact: roles are a seeded
permutation of fixed counts, so another seed plants the same shares on
other rows.
"""
import json
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STOPWORDS = ["the", "of", "and", "a", "to", "in", "is", "it", "that", "for"]
BLOCKED_DOMAIN = "blocked-farm.net"
LANGS = ["en", "de", "fr", "es", "it", "nl", "pt", "ja"]

# The planted shares below are assumptions, not measurements: no corpus
# or published rate in the repository gives them. They set how much work
# dedup and quarantine do, the denominators of drop_recall/keep_recall,
# stored_bytes_per_input_byte, and, through the re-send share,
# ops.verify_ratio.

# curate page kinds, their share of pages (per 100) and copies per page
BLOCKED, EXACT, NEAR, URL_VARIANT, UNIQUE = 0, 1, 2, 3, 4
KIND_SHARES = {BLOCKED: 3, EXACT: 10, NEAR: 10, URL_VARIANT: 8, UNIQUE: 69}
COPIES = {BLOCKED: 1, EXACT: 3, NEAR: 3, URL_VARIANT: 2, UNIQUE: 1}
COPY_SLOTS = 4  # doc_id = page * COPY_SLOTS + copy

# ingest batch roles and validity classes, per 100 rows of a batch
FRESH, RESEND, NEAR_EDIT = 0, 1, 2
ROLE_SHARES = {FRESH: 80, RESEND: 10, NEAR_EDIT: 10}
VALID, BAD_LANG, BAD_META = 0, 1, 2
VALIDITY_SHARES = {VALID: 93, BAD_LANG: 4, BAD_META: 3}

SIZES = {
    "curate": {"pages": 2400, "words": 120},
    "ingest": {"base_docs": 15000, "batch_docs": 3000, "batches": 3, "words": 100},
}

_VOCAB = None


def _vocab():
    """200k four-letter pseudo-words, so unrelated documents share few
    tokens (MinHash Jaccard near 0.1, far below the 0.9 threshold)."""
    global _VOCAB
    if _VOCAB is None:
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        v = np.arange(20000, 220000)
        digits = np.stack([(v // 26 ** k) % 26 for k in range(4)], axis=1)
        _VOCAB = np.array(["".join(w) for w in letters[digits]], dtype=object)
    return _VOCAB


def _tokens(rng, n, words):
    """Token matrix: a quarter English stopwords (so the quality score
    sees prose-like stopword ratios), the rest drawn from the vocabulary."""
    vocab = _vocab()
    stop = rng.integers(0, 1000, size=(n, words)) < 250
    stop_pick = np.array(STOPWORDS, dtype=object)[rng.integers(0, 10, size=(n, words))]
    word_pick = vocab[rng.integers(0, len(vocab), size=(n, words))]
    return np.where(stop, stop_pick, word_pick)


def _body(tokens, edit_at=-1, edit_token=None):
    """One line of text. An edit replaces one token with one no other
    document holds: token-set Jaccard to the original stays at or above
    (n-1)/(n+1), about 0.98 here."""
    if edit_at < 0:
        return " ".join(tokens)
    t = list(tokens)
    t[edit_at] = edit_token
    return " ".join(t)


def _exact(rng, shares, n):
    """A seeded permutation holding each class exactly shares[c] per 100."""
    labels = np.repeat(np.array(list(shares)), [shares[c] * n // 100 for c in shares])
    return rng.permutation(labels)


def _write(table, path, files):
    path.mkdir(parents=True, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), path / f"part-{i:05d}.parquet")


def curate(seed, out, pages, words):
    """A crawl. Exact groups repeat one body on three sites; near groups
    repeat it with one token edited per copy; URL variants re-crawl a page
    under another spelling of its URL; every page of the blocked domain
    must go. Each page carries its site's navigation and footer lines;
    every site holds at least 16 pages, so the per-domain boilerplate
    stage sees them as frequent."""
    rng = np.random.default_rng([seed, 1])
    kinds = _exact(rng, KIND_SHARES, pages)
    toks = _tokens(rng, pages, words)
    domains = max(pages // 16, 16)
    rows = {"doc_id": [], "url": [], "text": []}
    truth = {"doc_id": [], "page": [], "kind": []}
    for page in range(pages):
        kind = int(kinds[page])
        for copy in range(COPIES[kind]):
            doc_id = page * COPY_SLOTS + copy
            site = page % domains if kind == URL_VARIANT else (page + 7 * copy) % domains
            host = "www." + BLOCKED_DOMAIN if kind == BLOCKED else f"www.site{site}.com"
            if kind == URL_VARIANT:
                url = (f"HTTPS://{host.upper()}:443/p/{page}-0/?utm_source=feed" if copy
                       else f"https://{host}/p/{page}-0")
            else:
                url = f"https://{host}/p/{page}-{copy}"
            if kind == NEAR and copy > 0:
                body = _body(toks[page], 1 + int(rng.integers(0, words - 2)), f"ed{doc_id}")
            else:
                body = _body(toks[page])
            rows["doc_id"].append(doc_id)
            rows["url"].append(url)
            rows["text"].append(f"home | news | contact | {host}\n{body}\n"
                                f"copyright {host} all rights reserved")
            truth["doc_id"].append(doc_id)
            truth["page"].append(page)
            truth["kind"].append(kind)
    _write(pa.table(rows, schema=pa.schema([("doc_id", pa.int64()), ("url", pa.string()),
                                             ("text", pa.string())])), out / "in", 4)
    pq.write_table(pa.table(truth, schema=pa.schema([("doc_id", pa.int64()), ("page", pa.int64()),
                                                     ("kind", pa.int32())])), out / "truth.parquet")
    return {"pages": pages, "docs": len(rows["doc_id"])}


def _variant(rng, value, case_too):
    """A repairable spelling: padded with whitespace (15%), and with
    case_too also upper-cased (15%) or both (8%)."""
    r = int(rng.integers(0, 100))
    if not case_too:
        return f"  {value} \t" if r < 15 else value
    if r < 15:
        return value.upper()
    if r < 30:
        return f"  {value} \t"
    if r < 38:
        return f"  {value.upper()} \t"
    return value


def ingest(seed, out, base_docs, batch_docs, batches, words):
    """A stored base corpus and daily batches of records
    (doc_id, url, lang, meta, text). A re-send or edit repeats the text of
    a base doc or of an earlier batch's valid fresh doc, both stored by
    then. Valid rows carry repairable spellings of url and lang; invalid
    rows one planted error each."""
    rng = np.random.default_rng([seed, 2])
    total = base_docs + batches * batch_docs
    toks = _tokens(rng, total, words)
    _write(pa.table({"doc_id": pa.array(np.arange(base_docs), pa.int64()),
                     "text": [_body(toks[i]) for i in range(base_docs)]}), out / "base", 4)
    stored = list(range(base_docs))
    bad_lang = ["xx", "eng", "q1", "zz"]
    bad_meta = ['{"source":"feed-1","rank":', "source=feed;rank=3",
                '{"source":"feed-2" "rank":"2"}', "[1,2"]
    truth = {k: [] for k in ("doc_id", "batch", "role", "validity", "url", "lang")}
    for b in range(1, batches + 1):
        roles = _exact(rng, ROLE_SHARES, batch_docs)
        validity = _exact(rng, VALIDITY_SHARES, batch_docs)
        rows = {k: [] for k in ("doc_id", "url", "lang", "meta", "text")}
        fresh_valid = []
        for j in range(batch_docs):
            doc_id = base_docs + (b - 1) * batch_docs + j
            role, valid = int(roles[j]), int(validity[j])
            if role == FRESH:
                text = _body(toks[doc_id])
                if valid == VALID:
                    fresh_valid.append(doc_id)
            else:
                target = stored[int(rng.integers(0, len(stored)))]
                text = (_body(toks[target]) if role == RESEND else
                        _body(toks[target], 1 + int(rng.integers(0, words - 2)), f"ed{doc_id}"))
            url = f"https://news{int(rng.integers(0, 500))}.example/a/{doc_id}"
            lang = LANGS[int(rng.integers(0, len(LANGS)))]
            rows["doc_id"].append(doc_id)
            rows["url"].append(_variant(rng, url, case_too=False))
            rows["lang"].append(bad_lang[int(rng.integers(0, 4))] if valid == BAD_LANG
                                else _variant(rng, lang, case_too=True))
            rows["meta"].append(bad_meta[int(rng.integers(0, 4))] if valid == BAD_META else
                                f'{{"source":"feed-{int(rng.integers(0, 50))}",'
                                f'"rank":"{int(rng.integers(1, 10))}"}}')
            rows["text"].append(text)
            for k, v in (("doc_id", doc_id), ("batch", b), ("role", role),
                         ("validity", valid), ("url", url), ("lang", lang)):
                truth[k].append(v)
        stored += fresh_valid
        _write(pa.table(rows, schema=pa.schema([("doc_id", pa.int64())] + [
            (k, pa.string()) for k in ("url", "lang", "meta", "text")])),
            out / "batches" / f"batch={b}", 1)
    pq.write_table(pa.table(truth, schema=pa.schema([
        ("doc_id", pa.int64()), ("batch", pa.int32()), ("role", pa.int32()),
        ("validity", pa.int32()), ("url", pa.string()), ("lang", pa.string())])),
        out / "truth.parquet")
    return {"base_docs": base_docs, "batch_docs": batch_docs, "batches": batches}


def generate(workload, seed, out):
    """Writes the workload's inputs and truth under out/<workload> and
    returns its sizes (also written to sizes.json there)."""
    d = Path(out) / workload
    d.mkdir(parents=True, exist_ok=True)
    info = (curate if workload == "curate" else ingest)(seed, d, **SIZES[workload])
    (d / "sizes.json").write_text(json.dumps(info))
    return info
