from __future__ import annotations

import hashlib
import os

import pytest

from perfbench import gen


def _digests(path: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as f:
            out[name] = hashlib.sha256(f.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_one_seed_gives_byte_identical_files(tmp_path, workload):
    gen.generate(workload, 7, str(tmp_path / "a"))
    gen.generate(workload, 7, str(tmp_path / "b"))
    assert _digests(str(tmp_path / "a")) == _digests(str(tmp_path / "b"))


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_seeds_give_different_inputs(tmp_path, workload):
    gen.generate(workload, 7, str(tmp_path / "a"))
    gen.generate(workload, 8, str(tmp_path / "b"))
    a, b = _digests(str(tmp_path / "a")), _digests(str(tmp_path / "b"))
    assert a.keys() == b.keys()
    assert all(a[k] != b[k] for k in a if k.endswith(".parquet"))


def test_planted_chat_clusters_sit_in_their_similarity_bands(tmp_path):
    m = gen.generate("chat_curation", 7, str(tmp_path))
    for cl in m["clusters"]:
        sims = cl["jaccard_to_first"]
        if cl["band"] == "clone":
            assert sims == [1.0]
        else:
            assert all(abs(s - float(cl["band"])) < 0.1 for s in sims), cl


def test_oracle_matches_the_package_minhash_bands():
    """The generator's MinHash-LSH oracle reproduces the package's band
    signatures (the oracle keeps native byte order)."""
    from chat_data_pipeline_spark.operators import dedup as D

    texts = ["the quick brown fox jumps over the lazy dog again and again", "tiny"]
    B, R = D.optimal_param(0.7, gen.NUM_PERM)
    assert (B, R) == (gen.BANDS, gen.ROWS)
    perms = D._permutations(gen.NUM_PERM, gen.MINHASH_SEED)
    ranges = [(i * R, (i + 1) * R) for i in range(B)]
    for text, ours in zip(texts, gen.band_keys(texts)):
        theirs = D.minhash_signature(text, gen.NUM_PERM, gen.NGRAM, gen.NGRAM, perms, ranges)
        # band keys are compared for equality only; byte order does not matter
        assert [bytes(b) for b in theirs] == [_swap(k) for k in ours]


def _swap(key: bytes) -> bytes:
    import numpy as np

    return np.frombuffer(key, dtype=np.uint64).byteswap().tobytes()
