"""The generator is a pure function of the seed, and what it plants adds up.

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import os

import gen

SMALL = gen.CorpusSize(customers=30, suppliers=5, parts=40, orders=200,
                       lineitems=800, events=300, users=10, documents=60,
                       embeddings=40)


def _bytes(d: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = f.read()
    return out


def test_same_seed_same_bytes(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    gen.write_corpus(a, 7, SMALL, stream=2)
    gen.write_corpus(b, 7, SMALL, stream=2)
    gen.write_corpus(c, 7, SMALL, stream=3)
    assert sorted(_bytes(a)) == sorted(f"{t}.parquet" for t in gen.TABLES)
    assert _bytes(a) == _bytes(b)
    assert _bytes(a)["documents.parquet"] != _bytes(c)["documents.parquet"]


def test_elt_batches_are_reproducible_and_planted_counts_hold():
    feed = gen.EltFeed(seed=3, first_orders=50, batch_orders=20)
    again = gen.EltFeed(seed=3, first_orders=50, batch_orders=20)
    batches = [feed.batch(i) for i in range(4)]
    assert [b.csv for b in batches] == [again.batch(i).csv for i in range(4)]

    first = batches[0]
    assert (first.new_orders, first.replayed, first.malformed["orders"]) == (50, 0, 0)
    delivered = set()
    for i, b in enumerate(batches):
        ids = [int(r.split(",")[0]) for r in b.csv["orders"].splitlines()[1:]]
        watermark = max(delivered, default=0)
        new = {x for x in ids if x > watermark}
        # New ids are exactly the next block; the malformed rows reuse
        # ids from it, and every replay sits at or below the watermark.
        assert new == set(range(feed.first_id(i), feed.first_id(i) + b.new_orders))
        assert len(ids) == b.new_orders + b.replayed + b.malformed["orders"]
        assert sum(x <= watermark for x in ids) == b.replayed
        delivered |= new
        rows = b.csv["reviews"].count("\n") - 1
        assert rows == b.reviews + b.malformed["reviews"]


def test_replays_repeat_the_first_delivery_byte_for_byte():
    feed = gen.EltFeed(seed=5, first_orders=40, batch_orders=20)
    seen = set()
    for i in range(3):
        lines = feed.batch(i).csv["orders"].splitlines()[1:]
        old = [r for r in lines if int(r.split(",")[0]) < feed.first_id(i)]
        assert set(old) <= seen
        seen |= set(lines)
