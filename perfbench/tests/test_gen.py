"""The seeded generator: determinism, FIXTURES.md shapes and answers."""

import json

from perfbench import gen


def small(seed=3):
    return gen.make_deftunes(seed, sessions_per_window=300, users_per_window=100)


def test_same_seed_same_inputs_and_answers():
    a, b = small(), small()
    assert json.dumps(a.sessions) == json.dumps(b.sessions)
    assert a.artist_sales == b.artist_sales
    assert json.dumps(small(4).sessions) != json.dumps(a.sessions)


def test_fixture_shapes():
    d = small()
    for ds, nxt in gen.WINDOWS:
        users = d.users[ds]
        ids = [u["user_id"] for u in users]
        assert all(len(i) == 36 for i in ids)
        # about 4% duplicate user_id: Uniqueness > 0.95 near its boundary
        uniq = len(set(ids)) / len(ids)
        assert 0.95 < uniq <= 0.97
        for s in d.sessions[ds]:
            assert len(s["session_id"]) == 36
            assert ds <= s["session_start_time"][:10] < nxt
            assert 1 <= len(s["session_items"]) <= 5
            for it in s["session_items"]:
                assert it["price"] <= 2
                assert len(it["song_id"]) == len(it["artist_id"]) == 18
    assert all(len(s["track_id"]) == 18 for s in d.songs)


def test_artist_popularity_is_skewed():
    d = gen.make_deftunes(1, sessions_per_window=2000, users_per_window=200)
    totals = sorted(d.artist_sales.values(), reverse=True)
    # the top 1% of artists earn far more than an even share
    top = sum(totals[: max(1, len(totals) // 100)])
    assert top / sum(totals) > 0.05


def test_answers_agree_with_inputs():
    d = small()
    all_items = [
        it
        for ds, _ in gen.WINDOWS
        for s in d.sessions[ds]
        for it in s["session_items"]
    ]
    total = sum(it["price"] for it in all_items)
    assert abs(sum(d.artist_sales.values()) - total) < 1e-6
    assert d.fact_after[-1][0] == len(all_items)
    assert sum(len(p) for p in d.purchases.values()) == len(all_items)
    for (t, ds), n in d.silver_counts.items():
        if t == "sessions":
            assert n == sum(len(s["session_items"]) for s in d.sessions[ds])


def test_corpus_planted_shares():
    c = gen.make_corpus(5, n_docs=500)
    assert len(c.docs) == len(c.embeddings) == 500
    assert len(c.text_copies) == len(c.vec_copies) == 100
    for copy, src in c.text_copies.items():
        a, b = c.docs[src][1].split(" "), c.docs[copy][1].split(" ")
        assert a[:-1] == b[:-1] and copy > src
    assert c.expected_export_rows == len(c.good_ids) - 100
    assert gen.make_corpus(5, n_docs=500).docs == c.docs
