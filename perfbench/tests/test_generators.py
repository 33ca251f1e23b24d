import hashlib
import os

from perfbench import corpus, datagen
from perfbench.oracle import canonical_rows


def _digest(docs):
    h = hashlib.sha256()
    for name, data in docs:
        h.update(name.encode() + b"\0" + data)
    return h.hexdigest()


def test_corpus_is_a_function_of_the_seed():
    assert _digest(corpus.batch_corpus(5)) == _digest(corpus.batch_corpus(5))
    assert _digest(corpus.batch_corpus(5)) != _digest(corpus.batch_corpus(6))


def test_corpus_composition_is_fixed_across_seeds():
    for seed in (1, 2):
        docs = corpus.batch_corpus(seed)
        assert len(docs) == sum(corpus.BATCH_MIX.values())
        exts = sorted(name.rsplit(".", 1)[1] for name, _ in docs)
        expected = sorted(
            corpus.EXTENSIONS[k] for k, n in corpus.BATCH_MIX.items() for _ in range(n)
        )
        assert exts == expected
        big = [d for _, d in docs if len(d) > 4 << 20]
        assert len(big) == corpus.BATCH_MIX["image_oversize"]


def test_large_files_sit_at_the_same_positions_for_every_seed():
    def positions(seed):
        return [i for i, (_, d) in enumerate(corpus.batch_corpus(seed)) if len(d) > 1 << 20]

    n_large = sum(corpus.BATCH_MIX[k] for k in corpus.LARGE_KINDS)
    assert positions(1) == positions(2)
    assert len(positions(1)) == n_large


def test_every_kind_builds_deterministically():
    import random

    for kind in corpus.EXTENSIONS:
        a = corpus.build(kind, random.Random(f"k/{kind}"))
        b = corpus.build(kind, random.Random(f"k/{kind}"))
        assert a == b and a


def test_tables_are_a_function_of_the_seed(tmp_path):
    def files(seed, sub):
        d = tmp_path / sub
        datagen.generate(str(d), seed, 0.001)
        return {
            f: hashlib.sha256((d / f).read_bytes()).hexdigest()
            for f in sorted(os.listdir(d))
        }

    a, b, c = files(3, "a"), files(3, "b"), files(4, "c")
    assert a == b
    assert len(a) == 10
    assert a != c


def test_canonical_rows_ignore_row_and_column_order():
    left = canonical_rows(["B", "a"], [(2.5, 1), (None, 0)])
    right = canonical_rows(["a", "b"], [(0, None), (1, 2.5)])
    assert left == right
    assert canonical_rows(["a"], [(0.1,)]) != canonical_rows(["a"], [(0.1000001,)])
