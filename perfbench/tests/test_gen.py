"""The input generator: same seed, same bytes; another seed, same shape."""

from collections import Counter

import pyarrow.parquet as pq

import gen

SF = 0.002


def _table(d, name):
    return pq.read_table(f"{d}/{name}.parquet").to_pydict()


def test_same_seed_gives_identical_content(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    gen.generate_tables(str(a), 7, SF)
    gen.generate_tables(str(b), 7, SF)
    assert gen.content_hash(str(a)) == gen.content_hash(str(b))
    assert gen.generate_stream(7, 200, 3, 50, 10) == gen.generate_stream(7, 200, 3, 50, 10)


def test_other_seed_shifts_keys_but_keeps_counts_fanout_and_dup_groups(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    rows_a = gen.generate_tables(str(a), 1, SF)
    rows_b = gen.generate_tables(str(b), 2, SF)
    assert rows_a == rows_b
    assert gen.content_hash(str(a)) != gen.content_hash(str(b))

    def fanout(d, table, col):
        return sorted(Counter(_table(d, table)[col]).values())

    for table, col in [("orders", "o_custkey"), ("lineitem", "l_orderkey"),
                       ("lineitem", "l_partkey"), ("events", "user_id")]:
        assert fanout(a, table, col) == fanout(b, table, col), (table, col)
    assert _table(a, "orders")["o_custkey"] != _table(b, "orders")["o_custkey"]

    def dup_groups(d):
        texts = _table(d, "documents")["text"]
        base = Counter(t.removesuffix(" " + gen.DUP_WORD) for t in texts)
        return sorted(base.values())

    assert dup_groups(a) == dup_groups(b)
    assert max(dup_groups(a)) > 1
    # keys stay dense, so key predicates keep their selectivity
    assert sorted(_table(b, "customer")["c_custkey"]) == list(range(rows_b["customer"]))


def test_stream_waves_keep_one_change_per_key_and_seq_and_never_revive_deletes():
    topic = gen.generate_stream(3, 500, 7, 200, 20)
    by_key_seq = {}
    for w in topic["waves"]:
        for c in w["changes"]:
            assert by_key_seq.setdefault((c[0], c[1]), c) == c
    deleted: set[int] = set()
    for i, w in enumerate(topic["waves"]):
        assert not deleted & set(w["docs"])
        deleted |= set(w["delete_docs"])
        late = [c for c in w["changes"] if c not in w["fresh"]]
        assert (len(late) > 0) == (i > 0)
        # late rows come from the previous wave only: the GC watermark holds
        assert all(c[1] >= topic["waves"][i - 1]["min_seq"] - 1 for c in late)
    assert deleted
