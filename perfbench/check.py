"""Output checks against the planted truth in a workload's manifest.

Each ``*_errors`` function takes plain rows (no Spark) and returns a list of
error strings; an empty list means the output is correct.  The digests are
order-independent, so they do not depend on partition layout or shuffle
order.
"""

from __future__ import annotations

from collections import Counter

from perfbench.gen import content_hash, digest


def chat_errors(rows, manifest: dict) -> list[str]:
    """``rows``: (conversation id, ChatML message count, last message content).

    A row is identified by its conversation id and its ChatML length (one
    row per training target).  Rows of one planted near-duplicate component
    are interchangeable: which member survives follows partition layout, so
    the digest covers the component, not the member.
    """
    comp = manifest["component"]
    size = Counter(comp.values())
    violations = set(manifest["violations"])
    errors, items, kept = [], [], Counter()
    out_keys = set()
    for conv_id, n_msgs, content in rows:
        key = f"{conv_id}:{n_msgs}"
        out_keys.add(key)
        if key in violations:
            errors.append(f"planted violation {key} survived")
            continue
        root = comp.get(key)
        if root is None:
            errors.append(f"unexpected row {key}")
            continue
        kept[root] += 1
        items.append(f"c:{root}" if size[root] > 1 else f"r:{root}:{content_hash(content)}")
    errors += [f"component {r} kept {n} rows" for r, n in kept.items() if n > 1]
    for cl in manifest["clusters"]:
        n = len(out_keys & set(cl["rows"]))
        if cl["band"] in ("clone", "0.9") and n != 1:
            errors.append(f"cluster {cl['cluster']} (band {cl['band']}) kept {n} rows, want 1")
        if cl["band"] == "0.3" and n != len(cl["rows"]):
            errors.append(f"cluster {cl['cluster']} (band 0.3) kept {n} of {len(cl['rows'])} rows")
        if n != cl["expected_survivors"]:
            errors.append(f"cluster {cl['cluster']} kept {n} rows, want {cl['expected_survivors']}")
    if digest(items) != manifest["expected_digest"]:
        errors.append(f"output digest mismatch ({len(items)} rows, want {manifest['expected_rows']})")
    return errors


def docs_errors(rows, manifest: dict) -> list[str]:
    """``rows``: (id, cleaned text) of the curated pages."""
    ids = [int(i) for i, _ in rows]
    errors = [
        f"planted {manifest['kinds'][str(i)]} page {i} survived"
        for i in sorted(set(ids) & set(manifest["violations"]))
    ]
    if len(ids) != len(set(ids)):
        errors.append("duplicate ids in output")
    errors += [
        f"page {i} still holds markup or mojibake"
        for i, text in rows
        if "</" in text or "<p>" in text or "Ã" in text
    ]
    if digest(str(i) for i in ids) != manifest["expected_digest"]:
        errors.append(f"output digest mismatch ({len(ids)} rows, want {manifest['expected_rows']})")
    return errors


def delivery_errors(ids, manifest: dict, batch: int) -> list[str]:
    """``ids``: the document ids that survived delivery ``batch``'s probe."""
    got = [int(i) for i in ids]
    if digest(str(i) for i in got) == manifest["batch_digests"][batch]:
        return []
    want = set(manifest["batch_expected"][batch])
    missing, extra = want - set(got), set(got) - want
    return [
        f"delivery {batch}: {len(extra)} planted near-copies kept, "
        f"{len(missing)} fresh documents dropped, {len(got) - len(set(got))} repeated ids"
    ]
