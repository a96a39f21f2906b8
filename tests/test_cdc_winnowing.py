"""Content-defined chunking (Rabin/LBFS cut rule) and winnowing
(MOSS) fingerprints: the semantic guarantees the oracle rows can't
express — CDC's shift-robustness under insertion, winnowing's
w+k-1 detection guarantee — pinned on constructed corpora with
test-side independent boundary computation (hashlib, not the
operator's own expressions)."""

import hashlib

import pytest
from pyspark.sql import functions as F

from datawarehouse_code_spark.operators.text import (
    cdc_shared_chunks,
    content_defined_chunks,
    winnowing_fingerprints,
    winnowing_near_dup_pairs,
)

BOUNDARY_HEXES = ("0", "1")


def _is_boundary(word: str) -> bool:
    return hashlib.md5(word.encode()).hexdigest()[0] in BOUNDARY_HEXES


def _vocab(n: int, boundary: bool) -> list[str]:
    """First n words of the deterministic series w0, w1, ... that are
    (non-)boundary under the md5 cut rule — computed independently of
    the operator."""
    out, i = [], 0
    while len(out) < n:
        w = f"w{i}"
        if _is_boundary(w) == boundary:
            out.append(w)
        i += 1
    return out


def test_cdc_vocab_sanity():
    """The test's independent boundary rule actually splits the w{i}
    series both ways (guards the constructions below)."""
    assert len(_vocab(5, True)) == 5
    assert len(_vocab(20, False)) == 20


def test_cdc_shared_chunk_survives_offset_shift(spark):
    """The CDC property k-gram span tables lack: a paragraph shared
    at DIFFERENT offsets still produces an identical chunk, because
    boundaries depend on words, not positions.  The expected chunk
    hash is computed test-side with hashlib."""
    b = _vocab(2, True)
    n = _vocab(30, False)
    # shared paragraph: boundary word then 3 non-boundaries, then the
    # next boundary word closes the chunk — the interior chunk
    # [b0 n0 n1 n2] lies wholly inside the shared region
    shared = [b[0], n[0], n[1], n[2], b[1], n[3]]
    doc_a = " ".join(n[10:14] + shared + n[14:16])
    doc_b = " ".join(n[16:25] + shared + n[25:28])  # different offset
    docs = spark.createDataFrame(
        [(1, doc_a), (2, doc_b)], ["doc_id", "text"]
    )
    expected = hashlib.md5(
        " ".join([b[0], n[0], n[1], n[2]]).encode()
    ).hexdigest()
    got = {
        r["chunk_hash"]: r
        for r in cdc_shared_chunks(docs, min_words=3, min_docs=2).collect()
    }
    assert expected in got, sorted(got)
    assert got[expected]["n_docs"] == 2
    assert got[expected]["n_words"] == 4
    assert got[expected]["min_doc_id"] == 1


def test_cdc_insertion_localizes_rechunking(spark):
    """Inserting ONE non-boundary word re-chunks only the edited
    chunk: the two documents' chunk-hash multisets differ by exactly
    one chunk on each side, every other chunk identical."""
    b = _vocab(4, True)
    n = _vocab(20, False)
    base = [n[0], b[0], n[1], n[2], b[1], n[3], n[4], b[2], n[5], b[3], n[6]]
    edited = list(base)
    edited.insert(6, n[19])  # inside the chunk opened by b[1]
    docs = spark.createDataFrame(
        [(1, " ".join(base)), (2, " ".join(edited))], ["doc_id", "text"]
    )
    chunks = content_defined_chunks(docs).collect()
    a = sorted(r["chunk_hash"] for r in chunks if r["doc_id"] == 1)
    c = sorted(r["chunk_hash"] for r in chunks if r["doc_id"] == 2)
    assert len(c) == len(a)  # a non-boundary insertion adds no chunk
    only_a = [h for h in a if h not in c]
    only_c = [h for h in c if h not in a]
    assert len(only_a) == 1 and len(only_c) == 1, (only_a, only_c)


def test_winnowing_detection_guarantee(spark):
    """The paper's guarantee: any shared run of >= w + k - 1 words
    (k=3, w=4 -> 6) yields at least one shared fingerprint — checked
    across several constructions with the run at different offsets
    and different surrounding text, plus the density bound
    (fingerprints are a strict subset of grams)."""
    n = _vocab(60, False) + _vocab(10, True)
    rows = []
    for seed in range(5):
        run = n[seed * 6 : seed * 6 + 6]  # 6 = w + k - 1
        left = [f"a{seed}x{i}" for i in range(3 + seed)]
        right = [f"b{seed}y{i}" for i in range(4)]
        rows.append((2 * seed, " ".join(left + run + right)))
        rows.append(
            (2 * seed + 1, " ".join(right + left[:1] + run + left[1:]))
        )
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    fps = winnowing_fingerprints(docs, k=3, w=4).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    for seed in range(5):
        shared = by_doc[2 * seed] & by_doc[2 * seed + 1]
        assert shared, f"no shared fingerprint for planted run {seed}"
    # density: winnowing selects far fewer fingerprints than grams
    grams = docs.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(split(text, ' ')) - 2),"
                " i -> i)"
            )
        )
    ).count()
    assert len(fps) < grams


def test_winnowing_pairs_planted_and_threshold(spark):
    """Pair detection end-to-end: two docs sharing a LONG run are
    reported with n_shared >= 2; an unrelated doc pairs with
    neither."""
    n = _vocab(40, False)
    run = n[0:14]
    rows = [
        (1, " ".join(["p1a", "p1b"] + run + ["t1a"])),
        (2, " ".join(["q2a", "q2b", "q2c"] + run + ["u2a", "u2b"])),
        (3, " ".join(f"z3w{i}" for i in range(20))),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {
        (r["d1"], r["d2"]): r["n_shared"]
        for r in winnowing_near_dup_pairs(docs, min_shared=2).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 2
    assert all({1, 2} & set(p) == set() or p == (1, 2) for p in pairs)


def test_cdc_incremental_matches_through_index(spark):
    """Increment-vs-index: a new doc sharing a paragraph with a corpus
    doc — at a DIFFERENT offset — matches through the persisted chunk
    index; unrelated new docs match nothing; the corpus doc itself is
    identified with the right shared-chunk count."""
    from datawarehouse_code_spark.operators.text import (
        build_cdc_index,
        cdc_matches_incremental,
    )

    b = _vocab(2, True)
    n = _vocab(40, False)
    shared = [b[0], n[0], n[1], n[2], b[1], n[3]]
    corpus = spark.createDataFrame(
        [
            (1, " ".join(n[10:14] + shared + n[14:16])),
            (2, " ".join(n[20:30])),
        ],
        ["doc_id", "text"],
    )
    inc = spark.createDataFrame(
        [
            (100, " ".join(n[30:39] + shared)),   # shifted copy
            (101, " ".join(f"inc{i}x" for i in range(12))),
        ],
        ["doc_id", "text"],
    )
    idx = build_cdc_index(corpus)
    got = {
        (r["d_new"], r["d_corpus"]): r
        for r in cdc_matches_incremental(inc, idx).collect()
    }
    assert (100, 1) in got, sorted(got)
    assert got[(100, 1)]["n_shared_chunks"] >= 1
    assert got[(100, 1)]["n_shared_words"] >= 4
    assert all(d_new != 101 for d_new, _ in got)


def test_cdc_chunks_partition_the_document(spark):
    """Chunks are a PARTITION of each document's word sequence: per
    doc, n_words sums to the doc's word count, chunk_idx is dense
    from its minimum, and chunk_start offsets are consistent with the
    cumulative chunk lengths — nothing dropped, nothing duplicated."""
    from datawarehouse_code_spark.sources.catalog import read_table
    from tests.conftest import SF_DIR

    docs = read_table(spark, "documents", SF_DIR).limit(200)
    chunks = content_defined_chunks(docs).collect()
    words = {
        r["doc_id"]: r["n"]
        for r in docs.select(
            "doc_id",
            F.size(F.split(F.trim(F.regexp_replace(F.lower("text"),
                                                   r"\s+", " ")), " "))
            .alias("n"),
        ).collect()
    }
    by_doc = {}
    for r in chunks:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == {d for d, n in words.items() if n > 0}
    for d, rows in by_doc.items():
        rows.sort(key=lambda r: r["chunk_idx"])
        assert sum(r["n_words"] for r in rows) == words[d]
        idxs = [r["chunk_idx"] for r in rows]
        assert idxs == list(range(idxs[0], idxs[0] + len(rows)))
        # starts = running sum of preceding chunk lengths
        acc = 0
        for r in rows:
            assert r["chunk_start"] == acc
            acc += r["n_words"]


def test_winnowing_incremental_matches_through_index(spark):
    """Increment-vs-index winnowing: a new doc sharing a long run
    with a corpus doc matches through the persisted fingerprint
    index (min_shared=1 exercises the w+k-1 guarantee end-to-end);
    an unrelated new doc matches nothing."""
    from datawarehouse_code_spark.operators.text import (
        build_winnowing_index,
        winnowing_matches_incremental,
    )

    n = _vocab(40, False)
    run = n[0:10]
    corpus = spark.createDataFrame(
        [
            (1, " ".join(["c1a", "c1b"] + run + ["c1c"])),
            (2, " ".join(n[20:32])),
        ],
        ["doc_id", "text"],
    )
    inc = spark.createDataFrame(
        [
            (500, " ".join(["n5a", "n5b", "n5c"] + run)),
            (501, " ".join(f"q{i}z" for i in range(15))),
        ],
        ["doc_id", "text"],
    )
    idx = build_winnowing_index(corpus)
    got = {
        (r["d_new"], r["d_corpus"]): r["n_shared"]
        for r in winnowing_matches_incremental(
            inc, idx, min_shared=1
        ).collect()
    }
    assert (500, 1) in got and got[(500, 1)] >= 1, sorted(got)
    assert all(d_new != 501 for d_new, _ in got)


def test_cdc_containment_asymmetry(spark):
    """A short doc fully quoted inside a long one: containment(short
    in long) ~ 1.0, containment(long in short) well below — the
    directional signal symmetric pair scores miss."""
    from datawarehouse_code_spark.operators.text import cdc_containment

    b = _vocab(4, True)
    n = _vocab(40, False)
    quoted = [b[0], n[0], n[1], n[2], b[1], n[3], n[4], n[5], b[2]]
    long_doc = n[10:20] + quoted + n[20:34]
    docs = spark.createDataFrame(
        [(1, " ".join(quoted)), (2, " ".join(long_doc))],
        ["doc_id", "text"],
    )
    got = {
        (r["d1"], r["d2"]): r
        for r in cdc_containment(docs, min_containment_f4=0.0).collect()
    }
    assert (1, 2) in got
    fwd = got[(1, 2)]
    assert fwd["containment_f4"] >= 0.8, fwd
    assert fwd["shared_words"] <= fwd["d1_words"]
    if (2, 1) in got:
        assert got[(2, 1)]["containment_f4"] < fwd["containment_f4"]


def test_forget_index_rows_cdc_and_winnowing(spark, tmp_path):
    """RTBF for the persisted CDC and winnowing indexes: after
    forget_index_rows, the forgotten doc's rows are gone, removal
    counts are exact, and an increment that previously matched the
    forgotten doc no longer matches anything."""
    from datawarehouse_code_spark.operators.corpus import forget_index_rows
    from datawarehouse_code_spark.operators.text import (
        build_cdc_index,
        build_winnowing_index,
        cdc_matches_incremental,
        winnowing_matches_incremental,
    )

    b = _vocab(3, True)
    n = _vocab(40, False)
    shared = [b[0], n[0], n[1], n[2], b[1], n[3], n[4], n[5], b[2]]
    corpus = spark.createDataFrame(
        [(1, " ".join(n[10:14] + shared)), (2, " ".join(n[20:32]))],
        ["doc_id", "text"],
    )
    inc = spark.createDataFrame(
        [(100, " ".join(n[33:39] + shared))], ["doc_id", "text"]
    )
    cdc_path = str(tmp_path / "cdc")
    win_path = str(tmp_path / "win")
    build_cdc_index(corpus).write.parquet(cdc_path)
    build_winnowing_index(corpus).write.parquet(win_path)

    assert cdc_matches_incremental(
        inc, spark.read.parquet(cdc_path)
    ).count() > 0
    assert winnowing_matches_incremental(
        inc, spark.read.parquet(win_path), min_shared=1
    ).count() > 0

    ids = spark.createDataFrame([(1,)], ["doc_id"])
    n_cdc = forget_index_rows(spark, cdc_path, ids)
    n_win = forget_index_rows(spark, win_path, ids)
    assert n_cdc > 0 and n_win > 0

    for path in (cdc_path, win_path):
        left = set(r.doc_id for r in spark.read.parquet(path).collect())
        assert 1 not in left and 2 in left
    assert cdc_matches_incremental(
        inc, spark.read.parquet(cdc_path)
    ).count() == 0
    assert winnowing_matches_incremental(
        inc, spark.read.parquet(win_path), min_shared=1
    ).count() == 0

    import pytest

    with pytest.raises(ValueError, match="no index table"):
        forget_index_rows(spark, str(tmp_path / "missing"), ids)


@pytest.mark.parametrize(
    "id_col,key_cols",
    [
        ("doc_id", ["chunk_hash"]),  # CDC chunk index
        ("media_id", ["fp"]),  # audio / video / winnowing fingerprints
        ("media_id", ["band_idx", "band_val"]),  # dHash / pHash bands
    ],
    ids=["chunk_hash", "fp", "band"],
)
def test_cap_hot_keys_counts_distinct_carriers(spark, id_col, key_cols):
    """The ONE hot-key cap every bucket-then-verify family rides
    measures CARRIER count (distinct ids), not occurrence count (r12
    ADVICE): one carrier repeating a key many times must not evict it,
    while a key carried by more than `cap` distinct carriers must go —
    the cap bounds the join's cross-carrier fan-out, which repetition
    within one carrier does not increase.  Boundary: exactly `cap`
    carriers is kept, `cap + 1` is dropped — for every key shape."""
    from datawarehouse_code_spark.operators.buckets import cap_hot_keys

    def key(name: str, i: int) -> tuple:
        # one distinct key value per logical bucket, in the key's shape
        return (f"h_{name}",) if len(key_cols) == 1 else (i, 1000 + i)

    rows = [(1, *key("repeated", 0))] * 10  # one carrier, ten rows
    rows += [(d, *key("hot", 1)) for d in range(100, 104)]  # cap + 1
    rows += [(d, *key("edge", 2)) for d in range(300, 303)]  # == cap
    rows += [(d, *key("cold", 3)) for d in range(200, 202)]  # 2
    idx = spark.createDataFrame(rows, [id_col, *key_cols])
    capped = cap_hot_keys(idx, key_cols, id_col, 3)
    kept = {tuple(r[c] for c in key_cols) for r in capped.collect()}
    assert kept == {key("repeated", 0), key("edge", 2), key("cold", 3)}
    # the repeated carrier keeps ALL its occurrence rows (the cap
    # filters keys, it never dedups the index)
    assert capped.join(
        spark.createDataFrame([key("repeated", 0)], key_cols), key_cols
    ).count() == 10


def test_build_cdc_index_custom_id_col(spark):
    """The distinct-carrier cap forwards id_col (r12 review fix): a
    non-default id column must not crash the cap's countDistinct."""
    from datawarehouse_code_spark.operators.text import build_cdc_index

    n = _vocab(10, False)
    b = _vocab(2, True)
    docs = spark.createDataFrame(
        [(1, " ".join([b[0]] + n[:4])), (2, " ".join([b[1]] + n[4:8]))],
        ["page_id", "text"],
    )
    rows = build_cdc_index(docs, id_col="page_id").collect()
    assert rows and all(r["page_id"] in (1, 2) for r in rows)


def test_winnowing_match_spans_localize_planted_run(spark):
    """The localization report brackets WHERE the shared run sits on
    each side: a 6-word run planted at different offsets in two
    documents yields a pair whose span brackets contain the planted
    gram positions — and the sides differ, which the positionless
    pair report cannot show."""
    from datawarehouse_code_spark.operators.text import (
        winnowing_match_spans,
    )

    n = _vocab(40, False)
    run = n[0:6]  # 6 = w + k - 1 words -> guaranteed shared fp
    left_pad = [f"la{i}" for i in range(8)]
    right_pad = [f"rb{i}" for i in range(5)]
    doc_a = " ".join(left_pad + run + [f"ta{i}" for i in range(4)])
    doc_b = " ".join(right_pad[:2] + run + [f"tb{i}" for i in range(7)])
    docs = spark.createDataFrame(
        [(1, doc_a), (2, doc_b)], ["doc_id", "text"]
    )
    rows = winnowing_match_spans(docs, min_shared=1).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["d1"], r["d2"]) == (1, 2) and r["n_shared"] >= 1
    # the run's grams start at word offset 8 in doc_a (0-based gram
    # positions equal word offsets here) and at offset 2 in doc_b;
    # the run spans grams [offset, offset + 6 - k]
    assert 8 <= r["d1_first"] <= r["d1_last"] <= 8 + 3
    assert 2 <= r["d2_first"] <= r["d2_last"] <= 2 + 3
    # the two sides bracket DIFFERENT offsets — the attribution value
    assert r["d1_first"] != r["d2_first"]
