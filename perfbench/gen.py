"""Seeded input generators with ground truth.

Each generator is a pure function of ``(seed, size)``: it builds the input
tables with numpy/pyarrow (no Spark, so generation never touches the session
whose set-up is timed) and returns the ground truth the benchmark checks the
engine's outputs against.  ``materialize`` writes both to a cache directory
once per (workload, seed, size) and verifies them on reuse by a manifest of
row counts and SHA-256 digests.

Vocabulary: a closed-form list of 4000 distinct six-letter tokens drawn with
Zipf(1.1) frequencies, so word n-grams have a realistic long tail (a small
vocabulary makes every n-gram frequent and defeats document-frequency caps).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

VOCAB_SIZE = 4000
WORD_BYTES = 6
LANGS = ["en", "de", "fr", "es", "zh"]
HOT_HOST = "bighost.example.com"
SCAN_FILES = 8  # equal files, so scan splits stay even at any core count up to 8
KEEP_INPUTS = 2  # cached inputs kept per workload


def _rng(seed: int, tag: int) -> np.random.Generator:
    return np.random.default_rng([seed, tag])


def _vocab() -> np.ndarray:
    """(VOCAB_SIZE, WORD_BYTES) uint8 matrix of distinct lowercase tokens."""
    codes = (np.arange(VOCAB_SIZE, dtype=np.int64) * 7919 + 12345) % 26**WORD_BYTES
    letters = np.empty((VOCAB_SIZE, WORD_BYTES), dtype=np.uint8)
    for k in range(WORD_BYTES - 1, -1, -1):
        letters[:, k] = ord("a") + codes % 26
        codes //= 26
    return letters


_ZIPF = 1.0 / np.arange(1, VOCAB_SIZE + 1) ** 1.1
_ZIPF_CDF = np.cumsum(_ZIPF) / _ZIPF.sum()
_ZIPF_CDF[-1] = 1.0


def _word_ids(rng: np.random.Generator, n: int) -> np.ndarray:
    return np.searchsorted(_ZIPF_CDF, rng.random(n)).astype(np.int32)


def _texts(word_ids: np.ndarray, counts: np.ndarray) -> pa.StringArray:
    """Row i = the next ``counts[i]`` words of ``word_ids`` joined by spaces.

    Every token is WORD_BYTES wide, so the byte stream is one gather and the
    rows are zero-copy slices of it."""
    body = np.full((len(word_ids), WORD_BYTES + 1), ord(" "), dtype=np.uint8)
    body[:, :WORD_BYTES] = _vocab()[word_ids]
    offsets = np.zeros(len(counts) + 1, dtype=np.int64)
    np.cumsum(counts * (WORD_BYTES + 1), out=offsets[1:])
    arr = pa.LargeStringArray.from_buffers(
        len(counts), pa.py_buffer(offsets), pa.py_buffer(body.ravel())
    )
    # each row carries its trailing separator; strip it
    return pc.utf8_rtrim(arr, characters=" ").cast(pa.string())


# -- validate_scan: web_pages ---------------------------------------------------

def web_pages(seed: int, n: int) -> tuple[list[pa.Table], dict]:
    """Common-Crawl-style pages with planted defects (FIXTURES.md section 1).

    Planted, each on a disjoint random subset of rows:
      1.0% urls failing the URL pattern        -> row invalid (url)
      2.0% urls needing trim + lowercase       -> row valid
      0.5% urls copied from another clean row  -> DUPLICATE_KEY table violation
      1.0% NULL text (optional)                -> row valid
      0.5% texts under 20 bytes                -> row invalid (text)
      1.2% NULL lang (optional)                -> row valid; fails the
                                                  lang-null table check
      0.5% junk langs                          -> row invalid (lang)
    One host owns 20% of the rows."""
    rng = _rng(seed, 1)
    kind = rng.choice(
        8, size=n, p=[0.01, 0.02, 0.005, 0.01, 0.005, 0.012, 0.005, 0.933]
    )
    BAD_URL, MESSY_URL, DUP_URL, NULL_TEXT, SHORT_TEXT, NULL_LANG, JUNK_LANG, CLEAN = range(8)

    def where(k: int) -> pa.Array:
        return pa.array(kind == k)

    ids = pa.array(np.arange(n, dtype=np.int64)).cast(pa.string())
    hosts = pa.array([HOT_HOST] + [f"host-{k}.example.org" for k in range(997)])
    host = hosts.take(pa.array(np.where(rng.random(n) < 0.2, 0, 1 + rng.integers(0, 997, n))))
    url = pc.binary_join_element_wise("https://", host, "/page/", ids, "")
    url = pc.if_else(where(BAD_URL), pc.binary_join_element_wise("not-a-url/", ids, ""), url)
    url = pc.if_else(
        where(MESSY_URL),
        pc.binary_join_element_wise("  HTTPS://", pc.utf8_upper(host), "/page/", ids, " ", ""),
        url,
    )
    dup_rows = np.flatnonzero(kind == DUP_URL)
    src = rng.choice(np.flatnonzero(kind == CLEAN), size=len(dup_rows))
    take = np.arange(n)
    take[dup_rows] = src
    url = url.take(pa.array(take))

    counts = rng.integers(6, 41, n)
    counts[kind == SHORT_TEXT] = rng.integers(1, 3, int((kind == SHORT_TEXT).sum()))
    text = _texts(_word_ids(rng, int(counts.sum())), counts)
    text = pc.if_else(where(NULL_TEXT), pa.scalar(None, pa.string()), text)

    lang_idx = rng.choice(len(LANGS), size=n, p=[0.5, 0.2, 0.15, 0.1, 0.05])
    junk = ["EN-us", "english", "x1", "D"]
    lang_idx[kind == JUNK_LANG] = len(LANGS) + rng.integers(0, len(junk), int((kind == JUNK_LANG).sum()))
    lang_idx[kind == NULL_LANG] = len(LANGS) + len(junk)
    lang = pa.array(LANGS + junk + [None], pa.string()).take(pa.array(lang_idx))

    html = pc.binary_join_element_wise(
        "<html><body><p>", pc.fill_null(text, ""), "</p></body></html>", ""
    ).cast(pa.binary())
    warc_ts = pa.array(
        (1_700_000_000 + np.arange(n, dtype=np.int64) * 7) * 1_000_000,
        type=pa.timestamp("us", tz="UTC"),
    )
    table = pa.table(
        {"url": url, "warc_ts": warc_ts, "html": html, "text": text, "lang": lang}
    )

    # ground truth, from what was planted --------------------------------
    valid = ~np.isin(kind, [BAD_URL, SHORT_TEXT, JUNK_LANG])
    # verdict rows are keyed by the VALIDATED lang: NULL when absent or invalid
    key = np.where(lang_idx < len(LANGS), lang_idx, -1)
    verdicts = {}
    for k in np.unique(key):
        m = key == k
        verdicts[LANGS[k] if k >= 0 else "None"] = [int(m.sum()), int((m & valid).sum())]
    src_url, n_copies = np.unique(src, return_counts=True)
    dups = dict(zip(url.take(pa.array(src_url)).to_pylist(), (1 + n_copies).tolist()))
    null_langs = int((kind == NULL_LANG).sum())
    lang_null_cap = n // 200

    def _col_stats(arr: pa.Array) -> dict:
        return {
            "count": len(arr) - arr.null_count,
            "nulls": arr.null_count,
            "min": pc.min(arr).as_py(),
            "max": pc.max(arr).as_py(),
            "distinct": pc.count_distinct(arr).as_py(),
        }

    truth = {
        "rows": n,
        "lang_null_cap": lang_null_cap,
        "verdicts": verdicts,
        "dup_urls": dups,
        "failed_checks": {"lang_nulls": str(null_langs)} if null_langs > lang_null_cap else {},
        "profile": {c: _col_stats(table.column(c).combine_chunks()) for c in ("url", "text", "lang")},
    }
    step = -(-n // SCAN_FILES)
    return [table.slice(i, step) for i in range(0, n, step)], truth


# -- ingest_dedup: JSON records with near-duplicate texts ---------------------------

FIRST = ["alice", "bob", "carol", "dave", "erin", "frank", "grace", "heidi", "ivan", "judy"]
LAST = ["smith", "jones", "brown", "lee", "garcia", "miller", "davis", "wilson"]
# (raw JSON literal, coerced boolean): truthiness makes every non-empty
# string and non-zero number true, and null false
ACTIVE = [("true", True), ("false", False), ('"yes"', True), ('"false"', True),
          ('""', False), ("0", False), ("1", True), ("null", False)]
DEFECTS = [
    ("payload", "TYPE_ERROR", "unparseable"),
    ("payload", "TYPE_ERROR", "non_object"),
    ("payload", "TYPE_ERROR", "nested"),
    ("email", "INVALID_EMAIL", "bad_email"),
    ("email", "MISSING_FIELD", "missing_email"),
    ("age", "COERCION_ERROR", "bad_age"),
    ("user", "PATTERN_ERROR", "bad_user"),
    ("plan", "LITERAL_ERROR", "bad_plan"),
]


def _planted_texts(rng: np.random.Generator, n: int, clean: np.ndarray) -> tuple[list[str], np.ndarray]:
    """Zipf-vocabulary texts of 80-120 words for ``n`` records, and the
    planted clusters as rows of record indexes (original, copy, copy).

    A quarter of the ``clean`` records form 3-record clusters: two copies of
    an original, each with one word replaced at a different position."""
    counts = rng.integers(80, 121, n)
    flat = _word_ids(rng, int(counts.sum()))
    words = np.split(flat, np.cumsum(counts)[:-1])
    n_clusters = len(clean) // 12
    clusters = rng.permutation(clean)[: 3 * n_clusters].reshape(n_clusters, 3)
    for orig, *copies in clusters:
        pos = rng.choice(counts[orig], size=2, replace=False)
        for c, p in zip(copies, pos):
            w = words[orig].copy()
            w[p] = (w[p] + 1 + rng.integers(0, VOCAB_SIZE - 1)) % VOCAB_SIZE
            words[c], counts[c] = w, counts[orig]
    return _texts(np.concatenate(words), counts).to_pylist(), clusters


def ingest_records(seed: int, n: int) -> tuple[list[pa.Table], dict]:
    """JSON objects with coercion cases, malformed records, a field whose
    schema runs a custom Python transform, and a text in which planted
    near-duplicate clusters hide.  Each record carries at most one planted
    defect, so its expected violation is a single (field, code); clusters are
    planted among the defect-free records only, so every member reaches the
    near-duplicate step.

    Ground truth: the valid rows (their text as one digest), the violations,
    and what keep_best_per_cluster must return over the valid rows: every
    unclustered record as its own cluster, plus the best-scoring member of
    each planted cluster labelled with the cluster's smallest id."""
    rng = _rng(seed, 4)
    kind = rng.choice(len(DEFECTS) + 1, size=n, p=[0.02] * len(DEFECTS) + [0.84])
    first = rng.integers(0, len(FIRST), n)
    last = rng.integers(0, len(LAST), n)
    num = rng.integers(0, 1000, n)
    age = rng.integers(18, 90, n)
    age_form = rng.integers(0, 4, n)
    active = rng.integers(0, len(ACTIVE), n)
    pad = rng.integers(0, 3, n)
    # whole numbers, so every JSON number form reads back exactly, and no ties
    score = rng.permutation(n)
    texts, clusters = _planted_texts(rng, n, np.flatnonzero(kind == len(DEFECTS)))
    rec_id = np.arange(1, n + 1, dtype=np.int64)

    payloads, valid_rows, violations = [], {}, []
    for i in range(n):
        what = DEFECTS[kind[i]][2] if kind[i] < len(DEFECTS) else None
        name = f"{FIRST[first[i]]} {LAST[last[i]]}"
        user = " " * int(pad[i]) + name + " " * int(pad[i] > 0)
        email = f'"{FIRST[first[i]]}.{LAST[last[i]]}{num[i]}@example.com"'
        a = int(age[i])
        age_json, age_val = [
            (str(a), float(a)),
            (f'"{a}"', float(a)),
            (f'"{a}.5"', a + 0.5),
            ("true", 1.0),
        ][int(age_form[i])]
        act_json, act_val = ACTIVE[int(active[i])]
        plan = '"pro"'
        if what is None:
            valid_rows[i] = (name.title(), email.strip('"'), age_val, act_val, float(score[i]))
        else:
            violations.append((int(rec_id[i]), *DEFECTS[kind[i]][:2]))
        if what == "unparseable":
            payloads.append('{"user": "%s", "email": ' % user)
            continue
        if what == "non_object":
            payloads.append("[%d, %d]" % (a, num[i]))
            continue
        if what == "bad_user":
            user = user.rstrip() + str(num[i])
        elif what == "bad_email":
            email = '"%s-at-example.com"' % FIRST[first[i]]
        elif what == "bad_age":
            age_json = '"age %d"' % a
        elif what == "bad_plan":
            plan = '"basic"'
        user_json = '{"first": "%s"}' % FIRST[first[i]] if what == "nested" else f'"{user}"'
        parts = [f'"user": {user_json}']
        if what != "missing_email":
            parts.append(f'"email": {email}')
        parts += [f'"age": {age_json}', f'"active": {act_json}', f'"plan": {plan}',
                  f'"text": "{texts[i]}"', f'"score": {score[i]}']
        payloads.append("{" + ", ".join(parts) + "}")

    order = sorted(valid_rows)
    kept = {int(rec_id[i]): int(rec_id[i]) for i in order}
    copies = []
    for members in clusters:
        for i in members:
            del kept[int(rec_id[i])]
        best = max(members, key=lambda i: score[i])
        kept[int(rec_id[best])] = int(rec_id[members].min())
        copies += [int(rec_id[i]) for i in members if i != best]
    table = pa.table({"rec_id": rec_id, "payload": pa.array(payloads, pa.string())})
    truth = {
        "rows": n,
        "valid": [[int(rec_id[i]), *valid_rows[i]] for i in order],
        "valid_text_sha256": text_digest(texts[i] for i in order),
        "violations": sorted(list(v) for v in violations),
        "kept": sorted(kept.items()),
        "planted_copies": sorted(copies),
    }
    step = -(-n // SCAN_FILES)
    return [table.slice(i, step) for i in range(0, n, step)], truth


def text_digest(texts) -> str:
    """SHA-256 of the texts joined by newlines, in the order given."""
    return hashlib.sha256("\n".join(texts).encode()).hexdigest()


GENERATORS = {
    "validate_scan": web_pages,
    "ingest_dedup": ingest_records,
}


# -- cache + manifest ---------------------------------------------------------------

def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def _verify(d: str) -> dict | None:
    """The manifest of a complete, untouched cache entry, else None."""
    try:
        with open(os.path.join(d, "manifest.json")) as f:
            man = json.load(f)
        for name, (rows, digest) in man["files"].items():
            p = os.path.join(d, name)
            if pq.read_metadata(p).num_rows != rows or _sha256(p) != digest:
                return None
        return man
    except (OSError, ValueError, KeyError, pa.ArrowInvalid):
        return None


def materialize(cache_root: str, workload: str, seed: int, size: int) -> tuple[str, dict]:
    """Input directory and ground truth for (workload, seed, size).

    Generates on a miss; keeps the KEEP_INPUTS most recently used entries
    per workload so the cache stays bounded across many seeds."""
    d = os.path.join(cache_root, f"{workload}-s{seed}-n{size}")
    man = _verify(d)
    if man is None:
        shutil.rmtree(d, ignore_errors=True)
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(os.path.join(tmp, "data"))
        parts, truth = GENERATORS[workload](seed, size)
        files = {}
        for i, t in enumerate(parts):
            name = f"data/part-{i:03d}.parquet"
            pq.write_table(t, os.path.join(tmp, name), row_group_size=1 << 20)
            files[name] = (t.num_rows, _sha256(os.path.join(tmp, name)))
        with open(os.path.join(tmp, "truth.json"), "w") as f:
            json.dump(truth, f)
        man = {"workload": workload, "seed": seed, "size": size, "files": files,
               "truth_sha256": _sha256(os.path.join(tmp, "truth.json"))}
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump(man, f)
        os.rename(tmp, d)
    with open(os.path.join(d, "truth.json"), "rb") as f:
        raw = f.read()
    if hashlib.sha256(raw).hexdigest() != man["truth_sha256"]:
        raise RuntimeError(f"ground truth in {d} does not match its manifest")
    os.utime(d)
    siblings = sorted(
        (e for e in os.listdir(cache_root) if e.startswith(workload + "-s") and not e.endswith(".tmp")),
        key=lambda e: os.path.getmtime(os.path.join(cache_root, e)),
    )
    for old in siblings[:-KEEP_INPUTS]:
        shutil.rmtree(os.path.join(cache_root, old), ignore_errors=True)
    return os.path.join(d, "data"), json.loads(raw)
