import gen


def _inputs(seed):
    return gen.generate(seed, n_docs=30, dup_frac=0.2, doc_words=(150, 700),
                        n_queries=12, n_batches=2, batch_docs=10)


def test_same_seed_same_inputs():
    assert gen.digest(_inputs(3)) == gen.digest(_inputs(3))


def test_different_seed_different_inputs():
    assert gen.digest(_inputs(3)) != gen.digest(_inputs(4))


def test_planted_duplicates_are_near_and_of_stored_originals():
    inp = _inputs(5)
    by_id = {d.doc_id: d for d in inp.docs}
    dups = {a for a, _ in inp.dup_pairs}
    assert len(inp.dup_pairs) == 6
    for a, b in inp.dup_pairs:
        assert by_id[a].topic == by_id[b].topic
        assert gen.jaccard(by_id[a].words, by_id[b].words) >= 0.8
    for batch, pairs in zip(inp.batches, inp.batch_dup_pairs):
        assert len(pairs) == 2
        for _, src in pairs:
            assert src in by_id and src not in dups


def test_queries_mix_and_off_corpus_vocabulary():
    g = gen.Generator(7)
    qs = g.queries(60, ann_every=3)
    assert [q.kind for q in qs[:6]] == ["search", "search", "ann"] * 2
    corpus_words = set(g.common).union(*g.topics)
    for q in qs:
        words = q.text.split(" ")
        assert 5 <= len(words) <= 12
        assert q.off_corpus == (not set(words) & corpus_words)
    assert any(q.off_corpus for q in qs)


def test_expected_chunks_follows_word_count_arithmetic():
    docs = [gen.Doc(i, 0, ["w"] * n) for i, n in enumerate((150, 300, 301,
                                                            600, 1500))]
    # n // 300 + 1 slices, minus the empty trailing slice at multiples of 300
    assert gen.expected_chunks(docs) == 1 + 1 + 2 + 2 + 5
