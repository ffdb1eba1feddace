"""Determinism self-test for the benchmark's input generators.

Same seed -> identical digests; different seed -> different digests,
for every generator the workloads use. Pure Python, no Spark:

    python3 -m pytest perfbench/test_gen.py -q
    python3 perfbench/test_gen.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402


def _digests(seed: int) -> dict[str, str]:
    landing = gen.fiadmin_landing(seed, 40)
    deltas = gen.delta_batches(seed, 40, 2, 12)
    stub = gen.HarvestStub(deltas[0])
    pages = [stub(o, 5, {}) for o in range(0, stub.total_count, 5)]
    return {
        "fiadmin_landing": gen.digest([gen.jsonl(landing)]),
        "fiadmin_dims": gen.digest(gen.jsonl(v) for v in gen.fiadmin_dims(seed).values()),
        "temas": gen.digest(gen.jsonl(v) for v in gen.temas_rows(
            seed, [f"biblio-{r['id']}" for r in landing], share=0.5).values()),
        "harvest_stub": gen.digest(gen.jsonl(p) for p in pages),
        "tmgl_dump": gen.digest(gen.tmgl_dump(seed, 2, 15)),
        "tmgl_dims": gen.digest(gen.jsonl(v) for v in gen.tmgl_dims(seed).values()),
        "corpus": gen.digest([gen.jsonl(gen.corpus_docs(seed, 30))]),
    }


def test_same_seed_same_digests():
    assert _digests(11) == _digests(11)


def test_different_seed_different_digests():
    a, b = _digests(11), _digests(12)
    same = sorted(k for k in a if a[k] == b[k])
    assert not same, f"seed-insensitive generators: {same}"


def test_delta_batches_update_a_third_with_newer_versions():
    base = gen.fiadmin_landing(3, 60)
    batches = gen.delta_batches(3, 60, 3, 30)
    newest = {r["id"]: r["updated_time"] for r in base}
    for b in batches:
        updates = [r for r in b if r["id"] in newest]
        assert len(updates) == 10
        assert all(r["updated_time"] > newest[r["id"]] for r in updates)
        assert len({r["id"] for r in b}) == len(b)
        newest.update({r["id"]: r["updated_time"] for r in b})


def test_harvest_stub_pages_cover_batch_once():
    batch = gen.delta_batches(5, 20, 1, 23)[0]
    stub = gen.HarvestStub(batch)
    got = [r for o in range(0, stub.total_count, 10) for r in stub(o, 10, {})]
    assert got == batch


def test_corpus_injects_duplicates():
    docs = gen.corpus_docs(9, 200)
    texts = [d["text"] for d in docs]
    assert len(docs) > 200
    assert len(set(texts)) < len(texts)  # exact copies present
    assert len({d["doc_id"] for d in docs}) == len(docs)


if __name__ == "__main__":
    for name, fn in list(globals().items()):
        if name.startswith("test_"):
            fn()
            print("ok", name)
