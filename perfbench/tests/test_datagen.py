"""The seeded generator: same seed, same inputs."""

import numpy as np

from perfbench import datagen

SCALE = datagen.Scale(customer=50, supplier=5, part=40, orders=300, events=100, users=10,
                      documents=20, embeddings=20)


def _batches(seed):
    return datagen.upsert_batches(seed, datagen.make_tables(seed, SCALE), SCALE, n_batches=3, batch_orders=60)


def test_same_seed_same_tables():
    a, b = datagen.make_tables(7, SCALE), datagen.make_tables(7, SCALE)
    assert a.keys() == b.keys()
    assert all(a[t].equals(b[t]) for t in a)


def test_same_seed_same_batches():
    a, b = _batches(7), _batches(7)
    assert [(x.table, x.keys, x.n_updated) for x in a] == [(x.table, x.keys, x.n_updated) for x in b]
    assert all(x.rows.equals(y.rows) for x, y in zip(a, b))
    ca = datagen.event_chunks(7, 3, 50, 10)
    cb = datagen.event_chunks(7, 3, 50, 10)
    assert all(x.equals(y) for x, y in zip(ca, cb))


def test_other_seed_other_batches():
    a, b = _batches(7), _batches(8)
    assert any(not x.rows.equals(y.rows) for x, y in zip(a, b))
    assert not datagen.make_tables(7, SCALE)["embeddings"].equals(datagen.make_tables(8, SCALE)["embeddings"])


def _keys(tbl, cols):
    return list(zip(*(tbl.column(c).to_pylist() for c in cols)))


def test_batches_update_base_keys_and_add_new_ones():
    base = datagen.make_tables(7, SCALE)
    batches = _batches(7)
    assert sorted(b.table for b in batches) == ["lineitem"] * 3 + ["orders"] * 3
    base_keys = {t: set(_keys(base[t], k)) for t, k in (("orders", ("o_orderkey",)),
                                                         ("lineitem", ("l_orderkey", "l_linenumber")))}
    for b in batches:
        keys = _keys(b.rows, b.keys)
        assert len(keys) == len(set(keys)), "keys are unique within a batch"
        if b.table == "orders":
            assert sum(k in base_keys["orders"] for k in keys) == b.n_updated == 30
        assert 0 < b.n_updated < len(keys)


def test_table_keys_and_vectors():
    t = datagen.make_tables(3, SCALE)
    li = _keys(t["lineitem"], ("l_orderkey", "l_linenumber"))
    assert len(li) == len(set(li))
    v = np.array(t["embeddings"].column("embedding").to_pylist())
    assert v.shape == (20, datagen.EMBED_DIM)
    assert np.allclose(np.linalg.norm(v, axis=1), 1.0, atol=1e-5)
    assert t["documents"].column("n_chars").to_pylist() == [len(s) for s in t["documents"].column("text").to_pylist()]
