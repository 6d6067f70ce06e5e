"""Seeded inputs of the three workloads, cached on disk by content key.

Every input is a pure function of (workload, seed, size).  A finished
input directory holds a ``_DONE`` marker; a directory without it is
rebuilt from scratch, so an interrupted run never leaves a half-written
input behind for the next one.  The cache key carries ``VERSION``; bump
it whenever a generator changes.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
from datetime import timezone

import pyarrow as pa
import pyarrow.parquet as pq

VERSION = 6

DOC_SCHEMA = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
])
CURATE_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()), ("n_chars", pa.int64()),
])


def cached(root: str, key: str, build) -> str:
    """Directory ``root/key``, built by ``build(tmp_dir)`` when absent."""
    path = os.path.join(root, key)
    if os.path.exists(os.path.join(path, "_DONE")):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, "_DONE"), "w").close()
    os.rename(tmp, path)
    return path


def _doc_table(rows: list[dict]) -> pa.Table:
    return pa.Table.from_pylist(
        [dict(r, warc_ts=r["warc_ts"].replace(tzinfo=timezone.utc)) for r in rows],
        schema=DOC_SCHEMA)


def read_rows(path: str, all_columns: bool = False) -> list[dict]:
    """(url, warc_ts, html) rows of a generated table (every column with
    *all_columns*), timestamps naive."""
    t = pq.read_table(path, columns=None if all_columns else ["url", "warc_ts", "html"])
    rows = t.to_pylist()
    for r in rows:
        r["warc_ts"] = r["warc_ts"].replace(tzinfo=None)
    return rows


# ------------------------------------------------- extract workloads

GIANT = 1 << 20   # the pipeline's salted-shuffle threshold
PILOT_SEED = 0    # fixes the class counts every seed's input must match
MAX_DRAWS = 20    # give up after this many corpusgen ids per document
MAX_FIXED_DRAWS = 5000  # the same for the rare corrupt classes (1 in 500)
# Planted corrupt payloads are drawn for every seed from PILOT_SEED at
# corpusgen ids from FIXED_IDS on (no seed's own draws reach them, so
# their urls never collide): the same payloads in every input, so the
# extractor's outcome on them is the same in every run.
FIXED_IDS = 10 ** 7
CORRUPT_KINDS = {b"PK": "corrupt_zip", b"%PDF": "corrupt_pdf"}


def corrupt_kind(payload: bytes) -> str:
    """The _gen_corrupt kind of a planted corrupt payload: truncated zip,
    truncated PDF, or random bytes."""
    return next((k for magic, k in CORRUPT_KINDS.items() if payload.startswith(magic)),
                "corrupt_bytes")


def doc_class(rows: list[dict]) -> tuple | None:
    """Stratum of one corpusgen document: url extension (the generator's
    format; '.bin' split into OLE containers and the three corrupt
    kinds), whether its payload is a giant and whether it is wrapped
    (gzip, bz2, xz).  Whether it has a second, newer crawl row (~2%) is
    left to the seed: splitting on it makes strata too rare to fill."""
    from urllib.parse import urlsplit

    payload = rows[0]["html"]
    ext = urlsplit(rows[0]["url"]).path.rsplit(".", 1)[-1]
    if ext == "bin":
        ext = "ole" if payload.startswith(b"\xd0\xcf\x11\xe0") else corrupt_kind(payload)
    wrapped = payload[:2] == b"\x1f\x8b" or payload[:3] == b"BZh" or payload[:5] == b"\xfd7zXZ"
    return ext, len(payload) > GIANT, wrapped


def _is_corrupt(cls: tuple) -> bool:
    return cls[0].startswith("corrupt_")


def _draw(seed: int, quota: dict, first_id: int, max_draws: int) -> list[dict]:
    """corpusgen documents for *seed* from id *first_id* on, drawn in id
    order and kept while their class still has room in *quota*."""
    from cc_extract.corpusgen import gen_doc

    left, rows, i = dict(quota), [], first_id
    need, limit = sum(left.values()), first_id + max_draws * sum(quota.values())
    while need:
        doc = gen_doc(i, seed)
        i += 1
        c = doc_class(doc)
        if left.get(c, 0) > 0:
            left[c] -= 1
            need -= 1
            rows.extend(doc)
        if i > limit:
            raise RuntimeError(f"seed {seed}: classes still short after {i - first_id} "
                               f"draws: { {k: v for k, v in left.items() if v} }")
    return rows


def stratified(seed: int, quota: dict, root: str) -> list[dict]:
    """Documents with exactly the class counts of *quota*: every seed gets
    the same format mix, giant count and wrapped share, and only their
    contents differ.  The corrupt classes are the seed-independent
    planted payloads (see FIXED_IDS), cached under *root*."""
    fixed = {c: n for c, n in sorted(quota.items()) if _is_corrupt(c)}
    rest = {c: n for c, n in quota.items() if not _is_corrupt(c)}

    def build(d: str) -> None:
        pq.write_table(_doc_table(_draw(PILOT_SEED, fixed, FIXED_IDS, MAX_FIXED_DRAWS)),
                       os.path.join(d, "rows.parquet"))

    planted = []
    if fixed:
        key = "-".join(f"{c[0]}{n}" for c, n in fixed.items())
        planted = read_rows(os.path.join(cached(root, f"planted-v{VERSION}-{key}", build),
                                         "rows.parquet"), all_columns=True)
    return _draw(seed, rest, 0, MAX_DRAWS) + planted


def pilot_quota(root: str, n_docs: int, keep=lambda cls: True, tag: str = "all") -> dict:
    """Class counts of the first *n_docs* documents (of kept classes) for
    PILOT_SEED: the production format mix, rounded to whole documents."""
    def build(d: str) -> None:
        from collections import Counter

        from cc_extract.corpusgen import gen_doc

        counts, i = Counter(), 0
        while sum(counts.values()) < n_docs:
            c = doc_class(gen_doc(i, PILOT_SEED))
            i += 1
            if keep(c):
                counts[c] += 1
        with open(os.path.join(d, "quota.json"), "w") as f:
            json.dump([[list(k), v] for k, v in sorted(counts.items())], f)

    path = cached(root, f"quota-v{VERSION}-{tag}-n{n_docs}", build)
    with open(os.path.join(path, "quota.json")) as f:
        return {tuple(k): v for k, v in json.load(f)}


def lake(root: str, seed: int, n_docs: int, n_files: int) -> str:
    """*n_docs* corpusgen documents with the production format mix (~2%
    dup-url rows, the giant-PDF head) in *n_files* parquet files: a
    many-small-files lake."""
    def build(d: str) -> None:
        rows = stratified(seed, pilot_quota(root, n_docs), root)
        per = -(-len(rows) // n_files)
        for k in range(n_files):
            pq.write_table(_doc_table(rows[k * per:(k + 1) * per]),
                           os.path.join(d, f"part-{k:05d}.parquet"))
    return cached(root, f"lake-v{VERSION}-s{seed}-n{n_docs}-f{n_files}", build)


def _is_html(cls: tuple) -> bool:
    return cls[0] == "html"


def warc_dir(root: str, seed: int, n_pages: int, n_segments: int) -> str:
    """*n_pages* corpusgen HTML documents (the gzip/bz2/xz-wrapped share
    and dup-url rows included) packed in order into *n_segments*
    ``.warc.gz`` segments under ``segments/``; ``rows.parquet`` keeps the
    same rows for the output checks."""
    def build(d: str) -> None:
        from cc_extract.warc import write_warc_gz

        rows = stratified(seed, pilot_quota(root, n_pages, _is_html, "html"), root)
        pq.write_table(_doc_table(rows), os.path.join(d, "rows.parquet"))
        os.makedirs(os.path.join(d, "segments"))
        per = -(-len(rows) // n_segments)
        for k in range(n_segments):
            chunk = rows[k * per:(k + 1) * per]
            blob = write_warc_gz([(r["url"], r["warc_ts"], r["html"]) for r in chunk],
                                 segment=f"seg{k}")
            with open(os.path.join(d, "segments", f"seg-{k:05d}.warc.gz"), "wb") as f:
                f.write(blob)
    return cached(root, f"warc-v{VERSION}-s{seed}-n{n_pages}-g{n_segments}", build)


# ------------------------------------------------------------------ curate

def _vocab(n: int, lo: int, hi: int, tag: int) -> list[str]:
    """A fixed pseudo-word vocabulary (seed-independent), ASCII a-z."""
    rng = random.Random(7919 * tag)
    cons, vow = "bcdfghjklmnprstvwz", "aeiou"
    out: set[str] = set()
    while len(out) < n:
        k = rng.randint(lo, hi)
        out.add("".join(rng.choice(vow if j % 2 else cons) for j in range(k)))
    return sorted(out)


CONTENT = _vocab(3000, 3, 8, 1)
LONG = _vocab(400, 9, 14, 2)
SHORT = [w for w in CONTENT if len(w) <= 5]


def is_bench(doc_id: int) -> bool:
    """The funnel's content-addressed eval split: md5(doc_id)[0] < '1'."""
    return hashlib.md5(str(doc_id).encode()).hexdigest()[0] < "1"


def _render(rng: random.Random, toks: list[str]) -> str:
    """Tokens as prose: sentence case, commas and full stops."""
    out, start = [], True
    for t in toks:
        w = t.capitalize() if start else t
        start = False
        r = rng.random()
        if r < 0.07:
            w, start = w + ".", True
        elif r < 0.12:
            w += ","
        out.append(w)
    return " ".join(out) + "."


def curate_docs(seed: int, n_docs: int) -> list[dict]:
    """(doc_id, text, lang, source, n_chars) rows with planted structure.

    Kinds, drawn per document: English prose (the majority), German and
    French prose (their stopwords win the language pick), stopword-free
    text (language 'und'), too-short, long-word and low-stopword English
    (each fails one quality rule).  On top of that, per document:
    ~3% are exact copies of an earlier document, ~5% are near-duplicates
    of an earlier document (two token substitutions, so small cliques
    form around a base) and ~2% carry a 12-token span copied from an
    earlier eval-split document (eval-set overlap)."""
    from cc_extract.textops import DE_STOP, EN_STOP, FR_STOP

    rng = random.Random(seed * 1_000_003 + 11)
    kinds = [("en", 0.74), ("de", 0.06), ("fr", 0.05), ("und", 0.04),
             ("short", 0.04), ("wordlen", 0.04), ("lowstop", 0.03)]

    def prose(n: int, stops: list[str], p_stop: float, vocab=CONTENT) -> list[str]:
        return [rng.choice(stops) if rng.random() < p_stop else rng.choice(vocab)
                for _ in range(n)]

    rows: list[dict] = []
    toks_of: list[list[str]] = []
    bench_ids: list[int] = []
    for doc_id in range(n_docs):
        r = rng.random()
        if rows and r < 0.03:
            src = rows[rng.randrange(len(rows))]
            text, lang, toks = src["text"], src["lang"], toks_of[src["doc_id"]]
        elif rows and r < 0.08:
            base = rng.randrange(len(rows))
            toks = list(toks_of[base])
            for _ in range(2):
                toks[rng.randrange(len(toks))] = rng.choice(CONTENT)
            text, lang = _render(rng, toks), rows[base]["lang"]
        else:
            x, kind = rng.random(), "en"
            for kind, p in kinds:
                if x < p:
                    break
                x -= p
            n = rng.randint(40, 120)
            toks = {
                "en": lambda: prose(n, EN_STOP, 0.28),
                "de": lambda: prose(n, DE_STOP, 0.28),
                "fr": lambda: prose(n, FR_STOP, 0.28),
                "und": lambda: prose(n, EN_STOP, 0.0),
                "short": lambda: prose(rng.randint(6, 19), EN_STOP, 0.3),
                "wordlen": lambda: prose(n, EN_STOP, 0.1, LONG),
                # one stopword in 110-150 tokens of short words: only
                # the stopword-ratio rule rejects it
                "lowstop": lambda: prose(rng.randint(110, 150), EN_STOP, 0.0, SHORT) + ["the"],
            }[kind]()
            if bench_ids and rng.random() < 0.02:
                src = toks_of[rng.choice(bench_ids)]
                if len(src) >= 12:
                    k = rng.randrange(len(src) - 11)
                    at = rng.randrange(len(toks) + 1)
                    toks = toks[:at] + src[k:k + 12] + toks[at:]
            text = _render(rng, toks)
            lang = {"de": "de", "fr": "fr", "und": "und"}.get(kind, "en")
        rows.append({"doc_id": doc_id, "text": text, "lang": lang,
                     "source": f"src{rng.randrange(8)}", "n_chars": len(text)})
        toks_of.append(toks)
        if is_bench(doc_id):
            bench_ids.append(doc_id)
    return rows


def curate_dir(root: str, seed: int, n_docs: int) -> str:
    """``documents.parquet`` (the textops table layout) of curate_docs."""
    def build(d: str) -> None:
        pq.write_table(pa.Table.from_pylist(curate_docs(seed, n_docs),
                                            schema=CURATE_SCHEMA),
                       os.path.join(d, "documents.parquet"))
    return cached(root, f"curate-v{VERSION}-s{seed}-n{n_docs}", build)


CHAIN_DOCS, CHAIN_WIDTH, CHAIN_SHIFT = 180, 60, 3


def chain_dir(root: str) -> str:
    """A seed-independent near-duplicate chain: doc k holds tokens
    k*SHIFT .. k*SHIFT+WIDTH of one sequence of distinct tokens, so
    docs up to six apart have 3-shingle Jaccard >= 0.5 (0.90 for
    neighbours) and docs seven or more apart < 0.5.  LSH misses some of
    those pairs; with these token names the verified pairs still connect
    the whole chain (Curate.prepare checks it every run) and doc 0 is 34
    verified edges from the far end.  Ids ascend along the chain."""
    def build(d: str) -> None:
        seq = [f"chain{j}z" for j in range(CHAIN_DOCS * CHAIN_SHIFT + CHAIN_WIDTH)]
        rows = []
        for k in range(CHAIN_DOCS):
            text = " ".join(seq[k * CHAIN_SHIFT:k * CHAIN_SHIFT + CHAIN_WIDTH])
            rows.append({"doc_id": k, "text": text, "lang": "en",
                         "source": "chain", "n_chars": len(text)})
        pq.write_table(pa.Table.from_pylist(rows, schema=CURATE_SCHEMA),
                       os.path.join(d, "documents.parquet"))
    return cached(root, f"chain-v{VERSION}", build)
