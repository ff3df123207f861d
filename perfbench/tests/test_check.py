from __future__ import annotations

import pyarrow.parquet as pq
import pytest

from perfbench import check, gen


@pytest.fixture(scope="module")
def chat(tmp_path_factory):
    m = gen.generate("chat_curation", 11, str(tmp_path_factory.mktemp("chat")))
    convs = {}
    for path in m["inputs"]:
        for row in pq.read_table(path).to_pylist():
            convs[row["id"]] = row["conversation"]

    def row(key: str):
        conv_id, n = map(int, key.split(":"))
        return (conv_id, n, convs[conv_id][n - 1]["content"].strip())

    # one survivor per near-duplicate component: a correct output
    good = [row(root) for root in set(m["component"].values())]
    return m, good, row


def test_chat_check_accepts_a_correct_output(chat):
    m, good, _ = chat
    assert check.chat_errors(good, m) == []


def test_chat_check_rejects_corrupted_outputs(chat):
    m, good, row = chat
    cluster = next(c for c in m["clusters"] if c["band"] == "0.9")
    extra = next(k for k in cluster["rows"] if (row(k)[0], row(k)[1]) not in {g[:2] for g in good})
    corrupted = {
        "near-duplicate kept twice": good + [row(extra)],
        "planted refusal kept": good + [row(m["violations"][0])],
        "row dropped": good[1:],
        "text changed": [(i, n, c + " x") for i, n, c in good],
    }
    for what, rows in corrupted.items():
        assert check.chat_errors(rows, m), what


def test_docs_check(tmp_path):
    m = gen.generate("docs_quality", 11, str(tmp_path))
    good = [(i, "clean text.") for i in m["expected_ids"]]
    assert check.docs_errors(good, m) == []
    assert check.docs_errors(good + [(m["violations"][0], "clean text.")], m)
    assert check.docs_errors(good[:-1], m)
    assert check.docs_errors(good[:-1] + [(good[-1][0], "<p>markup</p>")], m)


def test_delivery_check(tmp_path):
    m = gen.generate("store_onboarding", 11, str(tmp_path))
    fresh = m["batch_expected"][0]
    batch_ids = pq.read_table(m["batches"][0]).column("doc_id").to_pylist()
    copy = next(i for i in batch_ids if i not in set(fresh))
    assert check.delivery_errors(fresh, m, 0) == []
    assert check.delivery_errors(fresh + [copy], m, 0)
    assert check.delivery_errors(fresh[1:], m, 0)
    assert check.delivery_errors(fresh, m, 1)
