"""Seeded input generator for the three perfbench workloads.

``generate(workload, seed, out_dir)`` writes the workload's parquet inputs
and a ``manifest.json`` with the planted truth the output check needs.  The
same seed gives byte-identical files; the program under test only ever sees
the parquet.

Planted truth per workload:

- ``chat_curation``: response clusters at about 0.9 / 0.75 / 0.5 / 0.3
  word-5-gram Jaccard, exact clones, and refusal responses the ethics
  filter must drop.  The expected MinHash-LSH outcome is computed here with
  an independent implementation of the reference arithmetic (sha1 token
  hashes, seeded permutations, 25 bands x 10 rows), so the check knows which
  rows end up in one near-duplicate component whatever the partition layout.
- ``docs_quality``: benign web-like pages (markup, mojibake, repeated lines
  and paragraphs), pages that break one C4 / Gopher / char-repetition / NSFW
  rule, pages at the Gopher word-count boundary, and exact clones (raw and
  markup-only variants that clean to the same text).
- ``store_onboarding``: a base corpus and a stream of crawl batches in which
  a planted share are one-word edits of earlier documents.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORKLOADS = ("chat_curation", "docs_quality", "store_onboarding")

STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with", "a", "in", "is"]

# chat_curation sizes
CHAT_CONVERSATIONS = 1000
CHAT_SOURCES = ("forum", "support")
CHAT_BANDS = (0.9, 0.75, 0.5, 0.3)  # target word-5-gram Jaccard of each cluster
CHAT_CLUSTERS_PER_BAND = 10
CHAT_CLONE_GROUPS = 12
CHAT_REFUSALS = 40
REFUSAL_PHRASES = ("As an AI language model", "as an AI", "my guidelines")

# docs_quality sizes
DOCS_BENIGN = 100
DOCS_CLONES = 6
DOCS_MARKUP_CLONES = 4
DOCS_PER_VIOLATION = 2
CLONE_KINDS = ("clone", "markup_clone")

# store_onboarding sizes
STORE_BASE_DOCS = 1000
STORE_BATCHES = 6  # every run delivers all of them
STORE_BATCH_DOCS = 100
STORE_NEAR_COPIES = 20  # per batch
STORE_WARM_BASE = 60
STORE_WARM_BATCH = 30

# reference MinHash-LSH parameters (256 permutations, threshold 0.7 gives
# the datasketch-optimal banding of 25 bands x 10 rows)
NUM_PERM, BANDS, ROWS, NGRAM, MINHASH_SEED = 256, 25, 10, 5, 42
_MERSENNE = np.uint64((1 << 61) - 1)
_MAX_HASH = np.uint64((1 << 32) - 1)
_NON_ALPHA = re.compile("[^A-Za-z_0-9]")


# -- vocabulary and text ------------------------------------------------------


def _banned_phrases() -> list[str]:
    from chat_data_pipeline_spark.functions.wordlists import (
        HARSH_UNWANTED_PHRASES,
        NSFW_PHRASES,
        UNWANTED_PHRASES,
    )

    return sorted({p.lower() for p in NSFW_PHRASES + UNWANTED_PHRASES + HARSH_UNWANTED_PHRASES})


def flagged(text: str) -> bool:
    """True when the lowercased text holds any NSFW or refusal phrase."""
    global _FLAGGED
    if _FLAGGED is None:
        _FLAGGED = re.compile("|".join(map(re.escape, _banned_phrases())))
    return _FLAGGED.search(text.lower()) is not None


_FLAGGED: re.Pattern | None = None


class Text:
    """Zipf-distributed synthetic words (no word contains a flagged phrase)."""

    def __init__(self, rng: np.random.Generator, size: int = 6000):
        cons = np.array(list("bcdfghjklmnprstvwz"))
        vows = np.array(list("aeiou"))
        words: list[str] = []
        seen = set(STOPWORDS)
        while len(words) < size:
            n = 4096
            c, v = cons[rng.integers(len(cons), size=(n, 4))], vows[rng.integers(len(vows), size=(n, 3))]
            syl = rng.integers(2, 4, size=n)
            tail = rng.random(n) < 0.4
            for i in range(n):
                w = "".join(c[i, j] + v[i, j] for j in range(syl[i])) + (c[i, 3] if tail[i] else "")
                if w in seen or flagged(w):
                    continue
                seen.add(w)
                words.append(w)
                if len(words) == size:
                    break
        self.words = np.array(words)
        cdf = np.cumsum(1.0 / np.arange(1, size + 1) ** 1.05)
        self.cdf = cdf / cdf[-1]
        self.rng = rng

    def draw(self, n: int, stop_prob: float = 0.0) -> list[str]:
        idx = np.minimum(np.searchsorted(self.cdf, self.rng.random(n), side="right"), len(self.words) - 1)
        out = self.words[idx].tolist()
        if stop_prob:
            hits = np.flatnonzero(self.rng.random(n) < stop_prob)
            for i, k in zip(hits, self.rng.integers(len(STOPWORDS), size=len(hits))):
                out[i] = STOPWORDS[k]
        return out

    def sentence(self, n: int, stop_prob: float = 0.0) -> str:
        w = self.draw(n, stop_prob)
        w[0] = w[0].capitalize()
        return " ".join(w) + "."

    def passage(self, n_words: int, stop_prob: float = 0.0) -> str:
        out, left = [], n_words
        while left > 0:
            k = min(left, int(self.rng.integers(8, 17)))
            if 0 < left - k < 5:
                k = left
            out.append(self.sentence(k, stop_prob))
            left -= k
        return " ".join(out)


def tokens(text: str) -> list[str]:
    return _NON_ALPHA.split(text)


def shingles(text: str, n: int = NGRAM) -> set[str]:
    seq = tokens(text)
    return {" ".join(seq[i : i + n]) for i in range(len(seq) - n + 1)}


def jaccard(a: str, b: str) -> float:
    x, y = shingles(a), shingles(b)
    return len(x & y) / len(x | y) if x | y else 1.0


def edit_words(text: str, rng: np.random.Generator, vocab: Text, m: int) -> str:
    """Replace ``m`` words at positions at least NGRAM apart."""
    words = text.split(" ")
    slots = np.arange(1, len(words) - 1, NGRAM)
    for i in rng.choice(slots, size=min(m, len(slots)), replace=False):
        end = "." if words[i].endswith(".") else ""
        new = words[i]
        while new.rstrip(".") == words[i].rstrip("."):
            new = vocab.draw(1)[0]
        words[i] = new + end
    return " ".join(words)


def near_copy(text: str, rng, vocab: Text, target: float) -> tuple[str, float]:
    """A word-edited copy of ``text`` and its Jaccard to ``text``: more
    edits until the Jaccard drops to about ``target``, keeping whichever of
    the last two copies is closer to it."""
    m, best = 1, None
    while True:
        cand = edit_words(text, rng, vocab, m)
        j = jaccard(text, cand)
        if j <= target + 0.02 or m > 60:
            return (cand, j) if best is None or abs(j - target) <= abs(best[1] - target) else best
        best = (cand, j)
        m += 1


# -- reference MinHash-LSH oracle --------------------------------------------


def _permutations() -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(MINHASH_SEED)
    pairs = [
        (rng.randint(1, _MERSENNE, dtype=np.uint64), rng.randint(0, _MERSENNE, dtype=np.uint64))
        for _ in range(NUM_PERM)
    ]
    return np.array([a for a, _ in pairs], dtype=np.uint64), np.array([b for _, b in pairs], dtype=np.uint64)


def band_keys(texts: list[str]) -> list[list[bytes]]:
    """Per text, its 25 LSH band keys under the reference arithmetic."""
    a, b = _permutations()
    out = []
    for text in texts:
        sh = shingles(text) if len(tokens(text)) >= NGRAM else set()
        hv = np.full(NUM_PERM, _MAX_HASH, dtype=np.uint64)
        if sh:
            h = np.array(
                [struct.unpack("<I", hashlib.sha1(s.encode()).digest()[:4])[0] for s in sh],
                dtype=np.uint64,
            )
            with np.errstate(over="ignore"):
                phv = np.bitwise_and((np.outer(h, a) + b) % _MERSENNE, _MAX_HASH)
            hv = np.minimum(phv.min(axis=0), hv)
        out.append([hv[i * ROWS : (i + 1) * ROWS].tobytes() for i in range(BANDS)])
    return out


def lsh_components(keys: list[str], texts: list[str]) -> dict[str, str]:
    """Row key -> canonical component key (min member) of the LSH graph."""
    parent = {k: k for k in keys}

    def find(k):
        while parent[k] != k:
            parent[k] = parent[parent[k]]
            k = parent[k]
        return k

    buckets: dict[tuple[int, bytes], str] = {}
    for key, bands in zip(keys, band_keys(texts)):
        for i, band in enumerate(bands):
            other = buckets.setdefault((i, band), key)
            if other != key:
                ra, rb = find(key), find(other)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    return {k: find(k) for k in keys}


# -- helpers ------------------------------------------------------------------


def _rngs(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


PATH_KEYS = ("inputs", "base", "warm_base", "warm_batch", "batches")


def _dump(manifest: dict, out_dir: str) -> dict:
    """Write the manifest (input files named relative to ``out_dir``) and
    return it with those names resolved."""
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, sort_keys=True)
    for key in PATH_KEYS:
        if isinstance(manifest.get(key), list):
            manifest[key] = [os.path.join(out_dir, p) for p in manifest[key]]
        elif key in manifest:
            manifest[key] = os.path.join(out_dir, manifest[key])
    return manifest


def digest(items) -> str:
    """Order-independent digest of an iterable of strings."""
    return hashlib.sha256("\n".join(sorted(items)).encode()).hexdigest()


def content_hash(text: str) -> str:
    return hashlib.md5(text.encode()).hexdigest()[:12]


# -- chat_curation -------------------------------------------------------------


def _chat_attempt(seed: int, attempt: int):
    rng = _rngs(seed, 100 + attempt)
    vocab = Text(rng)
    convs = []
    targets = []  # (conv index, message index)
    for c in range(CHAT_CONVERSATIONS):
        msgs = []
        if rng.random() < 0.3:
            msgs.append(["You are a helpful assistant for " + " ".join(vocab.draw(4)) + ".", False, "System"])
        turns = int(rng.choice([1, 1, 2, 3, 4]))
        n_train = int(rng.choice([0, 1, 1, 1, 1, 2, 3]))
        train_turns = set(rng.choice(turns, size=min(n_train, turns), replace=False).tolist())
        for t in range(turns):
            user = vocab.sentence(int(rng.integers(6, 20))) + " " + vocab.sentence(int(rng.integers(5, 12)))
            if rng.random() < 0.2:
                user = "  " + user + " \n"
            msgs.append([user, False, "User"])
            msgs.append([None, t in train_turns, "Assistant"])
            if t in train_turns:
                targets.append((c, len(msgs) - 1))
        convs.append(msgs)

    order = rng.permutation(len(targets))
    slot = iter(order.tolist())
    planted: dict[int, dict] = {}  # target index -> planted info
    clusters = []
    for sim in CHAT_BANDS:
        band = str(sim)
        for k in range(CHAT_CLUSTERS_PER_BAND):
            base = vocab.passage(int(rng.integers(80, 111)))
            members = [next(slot)]
            texts = [base]
            sims = []
            for _ in range(int(rng.integers(2, 4))):
                text, j = near_copy(base, rng, vocab, sim)
                members.append(next(slot))
                texts.append(text)
                sims.append(round(j, 4))
            cid = f"{band}-{k}"
            clusters.append({"cluster": cid, "band": band, "jaccard_to_first": sims})
            for m, text in zip(members, texts):
                planted[m] = {"text": text, "cluster": cid}
    for k in range(CHAT_CLONE_GROUPS):
        base = vocab.passage(int(rng.integers(40, 111)))
        cid = f"clone-{k}"
        clusters.append({"cluster": cid, "band": "clone", "jaccard_to_first": [1.0]})
        for _ in range(int(rng.integers(2, 4))):
            planted[next(slot)] = {"text": base, "cluster": cid}
    for k in range(CHAT_REFUSALS):
        words = vocab.passage(int(rng.integers(30, 80))).split(" ")
        cut = int(rng.integers(1, len(words) - 1))
        text = " ".join(words[:cut] + [REFUSAL_PHRASES[k % len(REFUSAL_PHRASES)]] + words[cut:])
        planted[next(slot)] = {"text": text, "violation": "refusal"}

    responses = []
    for i, (c, m) in enumerate(targets):
        info = planted.get(i)
        text = info["text"] if info else vocab.passage(int(rng.integers(40, 111)))
        if (not info or "violation" not in info) and flagged(text):
            return None  # unlucky draw; the caller retries with the next attempt
        pad = "" if rng.random() < 0.8 else " "
        convs[c][m][0] = pad + text + pad
        responses.append(text)
    for msgs in convs:  # assistant turns that are not training targets
        for msg in msgs:
            if msg[0] is None:
                msg[0] = vocab.passage(int(rng.integers(10, 40)))
    return convs, targets, planted, clusters, responses


def _chat(seed: int, out_dir: str) -> dict:
    for attempt in range(50):
        got = _chat_attempt(seed, attempt)
        if got is None:
            continue
        convs, targets, planted, clusters, responses = got
        # row key of one training target: conversation id + ChatML length
        keys = [f"{c}:{m + 1}" for c, m in targets]
        live = [i for i in range(len(targets)) if "violation" not in planted.get(i, {})]
        comp = lsh_components([keys[i] for i in live], [responses[i] for i in live])
        members: dict[str, list[str]] = {}
        for i in live:
            members.setdefault(comp[keys[i]], []).append(keys[i])
        label = {keys[i]: planted.get(i, {}).get("cluster") for i in range(len(targets))}
        ok = True
        for cl in clusters:
            rows = [k for k in keys if label[k] == cl["cluster"]]
            roots = {comp[k] for k in rows}
            if cl["band"] in ("clone", "0.9"):
                # one component holding the whole cluster and nothing else
                ok &= len(roots) == 1 and len(members[roots.pop()]) == len(rows)
            elif cl["band"] == "0.3":
                ok &= all(len(members[r]) == 1 for r in roots)
            cl["rows"] = rows
            cl["expected_survivors"] = len({comp[k] for k in rows})
        # background rows never join a component
        ok &= all(len(members[comp[keys[i]]]) == 1 for i in live if label[keys[i]] is None)
        if ok:
            break
    else:
        raise RuntimeError(f"no consistent chat_curation draw for seed {seed}")

    by_key = dict(zip(keys, responses))
    expected = [
        f"c:{root}" if len(rows) > 1 else f"r:{root}:{content_hash(by_key[root])}"
        for root, rows in members.items()
    ]
    ids = np.arange(len(convs), dtype=np.int64)
    src = np.array([CHAT_SOURCES[i % len(CHAT_SOURCES)] for i in range(len(convs))])
    msg_type = pa.list_(pa.struct([("content", pa.string()), ("do_train", pa.bool_()), ("role", pa.string())]))
    for s in CHAT_SOURCES:
        sel = np.flatnonzero(src == s)
        table = pa.table(
            {
                "id": pa.array(ids[sel]),
                "source": pa.array(src[sel].tolist()),
                "conversation": pa.array(
                    [[{"content": m[0], "do_train": m[1], "role": m[2]} for m in convs[i]] for i in sel],
                    type=msg_type,
                ),
            }
        )
        _write(table, os.path.join(out_dir, f"{s}.parquet"))
    comp_of = {k: comp[k] for k in (keys[i] for i in live)}
    return _dump(
        {
            "workload": "chat_curation",
            "seed": seed,
            "attempt": attempt,
            "inputs": [f"{s}.parquet" for s in CHAT_SOURCES],
            "input_docs": len(convs),
            "input_text_bytes": sum(len(m[0].encode()) for msgs in convs for m in msgs),
            "clusters": clusters,
            "violations": [keys[i] for i in range(len(targets)) if "violation" in planted.get(i, {})],
            "component": comp_of,
            "expected_rows": len(expected),
            "expected_digest": digest(expected),
        },
        out_dir,
    )


# -- docs_quality ----------------------------------------------------------------


def char_repetition_ratio(doc: str, n: int = 10) -> float:
    """The reference char-repetition signal (top sqrt(k) n-gram mass)."""
    grams = [doc[i : i + n] for i in range(len(doc) - n + 1)]
    if not grams:
        return 0.0
    freq: dict[str, int] = {}
    for g in grams:
        freq[g] = freq.get(g, 0) + 1
    values = sorted(freq.values(), reverse=True)
    singletons = sum(1 for v in values if v == 1)
    top = min(int(np.sqrt(len(values))), len(values) - singletons)
    return sum(values[:top]) / sum(values)


def _web_page(rng, vocab: Text) -> tuple[str, str]:
    """(raw page with markup and mojibake, its text as plain lines)."""
    paras = []
    for _ in range(int(rng.integers(3, 7))):
        lines = [vocab.sentence(int(rng.integers(8, 19)), 0.25) for _ in range(int(rng.integers(3, 6)))]
        if rng.random() < 0.3:
            lines.append(lines[int(rng.integers(len(lines)))])  # repeated line
        paras.append(lines)
    if rng.random() < 0.3:
        paras.append(list(paras[int(rng.integers(len(paras)))]))  # repeated paragraph
    plain = "\n\n".join("\n".join(p) for p in paras)
    raw_paras = []
    for p in paras:
        lines = []
        for line in p:
            words = line.split(" ")
            for i in range(len(words) - 1):
                r = rng.random()
                if r < 0.03:
                    words[i] = f"<b>{words[i]}</b>"
                elif r < 0.05:
                    words[i] = f'<a href="https://example.org/{vocab.draw(1)[0]}">{words[i]}</a>'
                elif r < 0.08 and "e" in words[i]:
                    words[i] = words[i].replace("e", "Ã©", 1)  # mojibake of é
            lines.append(" ".join(words))
        raw_paras.append("<p>" + "\n".join(lines) + "</p>")
    raw = "<html><body>\n" + "\n\n".join(raw_paras) + "\n</body></html>"
    return raw, plain


def _docs(seed: int, out_dir: str) -> dict:
    rng = _rngs(seed, 200)
    vocab = Text(rng)
    rows: list[tuple[str, str]] = []  # (text, kind)
    keep: list[bool] = []

    def add(text: str, kind: str, kept: bool):
        rows.append((text, kind))
        keep.append(kept)

    benign = []
    while len(benign) < DOCS_BENIGN:
        raw, plain = _web_page(rng, vocab)
        flat = " ".join(plain.split())
        if char_repetition_ratio(flat) > 0.12 or flagged(flat):
            continue
        benign.append((raw, plain))
    for raw, _ in benign:
        add(raw, "benign", True)
    for i in rng.choice(len(benign), size=DOCS_CLONES, replace=False):
        add(benign[i][0], "clone", False)  # exact raw clone: loses to the original
    markup = 0
    while markup < DOCS_MARKUP_CLONES:
        raw, plain = _web_page(rng, vocab)
        flat = " ".join(plain.split())
        if char_repetition_ratio(flat) > 0.12 or flagged(flat):
            continue
        markup += 1
        # the marked-up twin cleans to the plain text once its mojibake is gone
        add(plain, "markup_clone_plain", True)
        add(raw.replace("Ã©", "e"), "markup_clone", False)

    def sentences(n_words: int) -> str:
        """Plain lines of ``n_words`` whitespace words in all, with at least
        two distinct Gopher stopwords."""
        while True:
            text = vocab.passage(n_words, 0.25)
            if len(set(text.lower().replace(".", "").split()) & set(STOPWORDS[:8])) >= 2:
                return text.replace(". ", ".\n")

    from chat_data_pipeline_spark.functions.wordlists import NSFW_PHRASES

    dirty = [p for p in NSFW_PHRASES if p.isalpha() and len(p) > 3][:12]
    for _ in range(DOCS_PER_VIOLATION):
        add("<p>" + sentences(120) + "\nLorem ipsum dolor sit amet, consectetur adipiscing elit.</p>", "lorem_ipsum", False)
        add(sentences(120) + "\nThe {template} value is set here for the page.", "curly_brace", False)
        add(vocab.sentence(40, 0.25) + " " + vocab.sentence(40, 0.25), "two_sentences", False)
        add(sentences(49), "gopher_49_words", False)
        add(sentences(50), "gopher_50_words", True)
        add(sentences(60) + "\n" + " ".join("#tag" for _ in range(20)) + " end of the list.", "gopher_hashes", False)
        add(sentences(40) + "\n" + " ".join(str(int(x)) for x in rng.integers(0, 9999, 40)) + " and that is all.", "gopher_numbers", False)
        add(vocab.passage(120, 0.0), "gopher_no_stopwords", False)
        add(sentences(60) + "\n" + "\n".join(["Click here to win the prize now."] * 80), "char_repetition", False)
        add(sentences(60) + "\n" + " ".join(rng.choice(dirty, 15).tolist()) + " with the rest.", "nsfw", False)

    # ids follow a seeded shuffle, so a clone may hold the smaller id of its
    # group: exact dedup keeps the minimum id of each identical cleaned text
    perm = rng.permutation(len(rows))
    id_of = {int(i): 1000 + 7 * pos for pos, i in enumerate(perm)}
    violations = sorted(id_of[i] for i, k in enumerate(keep) if not k and rows[i][1] not in CLONE_KINDS)
    groups: dict[str, list[int]] = {}
    for i, (text, kind) in enumerate(rows):
        if kind in ("benign", "clone"):
            groups.setdefault(text, []).append(id_of[i])
    groups.update(
        {f"pair:{i}": [id_of[i], id_of[i + 1]] for i, (_, k) in enumerate(rows) if k == "markup_clone_plain"}
    )
    final = {min(g) for g in groups.values()}
    final |= {id_of[i] for i, (_, k) in enumerate(rows) if k == "gopher_50_words"}
    table = pa.table(
        {
            "id": pa.array([id_of[int(i)] for i in perm], type=pa.int64()),
            "user_id": pa.array([f"u{int(x)}" for x in rng.integers(0, 300, len(rows))]),
            "text": pa.array([rows[int(i)][0] for i in perm]),
        }
    )
    _write(table, os.path.join(out_dir, "pages.parquet"))
    return _dump(
        {
            "workload": "docs_quality",
            "seed": seed,
            "inputs": ["pages.parquet"],
            "input_docs": len(rows),
            "input_text_bytes": sum(len(t.encode()) for t, _ in rows),
            "violations": violations,
            "kinds": {str(id_of[i]): k for i, (_, k) in enumerate(rows)},
            "dup_groups": sorted(sorted(g) for g in groups.values() if len(g) > 1),
            "expected_ids": sorted(final),
            "expected_rows": len(final),
            "expected_digest": digest(str(i) for i in final),
        },
        out_dir,
    )


# -- store_onboarding ------------------------------------------------------------


def _store_corpus(rng, vocab: Text, n_base: int, n_batches: int, batch_docs: int, copies: int, first_id: int):
    base = [vocab.passage(int(rng.integers(150, 251)), 0.2) for _ in range(n_base)]
    base_ids = list(range(first_id, first_id + n_base))
    pool = list(zip(base_ids, base))
    batches = []
    for b in range(n_batches):
        fresh_n = batch_docs - copies
        start = first_id + (b + 1) * 1_000_000
        fresh = [(start + j, vocab.passage(int(rng.integers(150, 251)), 0.2)) for j in range(fresh_n)]
        dup = []
        for j, k in enumerate(rng.choice(len(pool), size=copies, replace=False)):
            src_id, src = pool[int(k)]
            dup.append((start + fresh_n + j, edit_words(src, rng, vocab, 1)))
        rows = fresh + dup
        order = rng.permutation(len(rows))
        batches.append({"rows": [rows[int(i)] for i in order], "fresh": sorted(i for i, _ in fresh)})
        pool.extend(fresh)
    return base_ids, base, batches


def _store(seed: int, out_dir: str) -> dict:
    rng = _rngs(seed, 300)
    vocab = Text(rng)

    def table(ids, texts):
        return pa.table({"doc_id": pa.array(ids, type=pa.int64()), "text": pa.array(texts)})

    base_ids, base, batches = _store_corpus(
        rng, vocab, STORE_BASE_DOCS, STORE_BATCHES, STORE_BATCH_DOCS, STORE_NEAR_COPIES, 0
    )
    w_ids, w_base, w_batches = _store_corpus(
        rng, vocab, STORE_WARM_BASE, 1, STORE_WARM_BATCH, STORE_WARM_BATCH // 5, 10**9
    )
    _write(table(base_ids, base), os.path.join(out_dir, "base.parquet"))
    _write(table(w_ids, w_base), os.path.join(out_dir, "warm_base.parquet"))
    paths, expected, text_bytes = [], [], []
    for b, batch in enumerate(batches + w_batches):
        name = f"batch_{b:03d}.parquet" if b < len(batches) else "warm_batch.parquet"
        ids, texts = zip(*batch["rows"])
        _write(table(list(ids), list(texts)), os.path.join(out_dir, name))
        if b < len(batches):
            fresh = set(batch["fresh"])
            paths.append(name)
            expected.append(batch["fresh"])
            text_bytes.append(sum(len(t.encode()) for i, t in batch["rows"] if i in fresh))
    return _dump(
        {
            "workload": "store_onboarding",
            "seed": seed,
            "base": "base.parquet",
            "base_text_bytes": sum(len(t.encode()) for t in base),
            "warm_base": "warm_base.parquet",
            "warm_batch": "warm_batch.parquet",
            "batches": paths,
            "batch_expected": expected,
            "batch_digests": [digest(str(i) for i in e) for e in expected],
            "batch_fresh_text_bytes": text_bytes,
            "input_docs": STORE_BATCH_DOCS,
        },
        out_dir,
    )


def generate(workload: str, seed: int, out_dir: str) -> dict:
    """Write ``workload``'s inputs for ``seed`` under ``out_dir``; return the
    manifest (also written as ``out_dir/manifest.json``)."""
    os.makedirs(out_dir, exist_ok=True)
    if workload == "chat_curation":
        return _chat(seed, out_dir)
    if workload == "docs_quality":
        return _docs(seed, out_dir)
    if workload == "store_onboarding":
        return _store(seed, out_dir)
    raise ValueError(f"unknown workload {workload!r}; known: {WORKLOADS}")
