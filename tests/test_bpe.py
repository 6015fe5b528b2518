"""Vendored byte-level BPE tokenizer (functions/bpe.py).

The reference counts tokens with tiktoken's gpt-4 BPE per node body
(ast/src/lang/graphs/neo4j_utils.rs:13-15,74-75); the vendored
tokenizer implements the same greedy byte-pair mechanism with a
deterministic embedded merge table. Correctness here is checked by
the tokenizer's own algebra (no circular re-implementation):
losslessness, determinism, compression, and Spark-vs-local equality
of the Arrow-batched UDF."""

from __future__ import annotations

from stakgraph_spark.functions.bpe import (
    GPT2_PRETOK,
    N_MERGES,
    TokenTableRanks,
    bpe_count,
    bpe_decode,
    bpe_encode,
    bytes_to_unicode,
    load_merges_txt,
    load_ranks,
    load_tiktoken,
    save_merges_txt,
    token_count_bpe,
    train_bpe,
)

TRICKY = [
    "",
    "hello world",
    "the assistant defined get_payment_status in payments/api.py",
    "GET /api/payments/:id?verbose=1",
    '{"role": "user", "content": "naïve café — ☕️ 你好"}',
    "x = [i**2 for i in range(10)]  # comment",
    "\n\t  mixed   whitespace\r\n",
    "'s 't 're contractions don't",
    "ZZZ unseen\x00bytes\xff" + chr(0x10FFFF),
]


def test_roundtrip_lossless():
    for s in TRICKY:
        toks = bpe_encode(s)
        assert bpe_decode(toks) == s
        assert b"".join(toks) == s.encode("utf-8")


def test_training_deterministic():
    r1 = train_bpe()
    r2 = train_bpe()
    assert r1 == r2
    # training may exhaust the seed's pair inventory before N_MERGES
    assert 256 <= len(r1) <= N_MERGES
    # ranks are a permutation of 0..n-1 (one merge per round)
    assert sorted(r1.values()) == list(range(len(r1)))


def test_merges_compress_domain_text():
    s = "the assistant added a test that calls the payment endpoint"
    n_bytes = len(s.encode("utf-8"))
    n_toks = bpe_count(s)
    # a trained table must merge well below byte-level on seed-domain text
    assert 0 < n_toks < n_bytes / 2
    # and every non-empty string yields at least one token
    assert bpe_count("Q") == 1


def test_unseen_bytes_fall_back_to_byte_tokens():
    # characters absent from the seed still encode (base-256 alphabet)
    s = "\x07\x1b\xfe"
    assert bpe_decode(bpe_encode(s)) == s


def test_sink_stamping_with_bpe_tokenizer(spark):
    from stakgraph_spark.sources.sinks import prepare_upload_nodes

    df = spark.createDataFrame(
        [("k1", "the assistant added a test"), ("k2", "x")],
        "node_key string, body string",
    )
    rows = {
        r["node_key"]: r
        for r in prepare_upload_nodes(df, 1_700_000_000, tokenizer="bpe").collect()
    }
    assert rows["k1"]["token_count"] == bpe_count("the assistant added a test")
    assert rows["k2"]["token_count"] == 1
    assert rows["k1"]["date_added_to_graph"] == 1_700_000_000


def test_udf_matches_local(spark):
    rows = [(i, t) for i, t in enumerate(TRICKY)] + [(99, None)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r["doc_id"]: r["bpe_real_tokens"] for r in token_count_bpe(df).collect()}
    for i, t in rows:
        assert got[i] == (None if t is None else bpe_count(t))


# --- published-vocab loaders (merges.txt / .tiktoken file formats) ---


def test_bytes_to_unicode_bijection_and_published_fixed_points():
    m = bytes_to_unicode()
    assert len(m) == 256 and len(set(m.values())) == 256
    # published fixed points of GPT-2's mapping: printable bytes map
    # to themselves; space/newline get the visible stand-ins every
    # released merges.txt uses
    assert m[ord("!")] == "!" and m[ord("~")] == "~"
    assert m[ord(" ")] == "Ġ"
    assert m[ord("\n")] == "Ċ"


def test_merges_txt_published_format_hand_written(tmp_path):
    # the exact GPT-2 merges.txt serialization, hand-written: header
    # line, then space-separated mapped pairs in rank order
    p = tmp_path / "merges.txt"
    p.write_text("#version: 0.2\nĠ t\nĠt he\nh e\n", encoding="utf-8")
    ranks = load_merges_txt(str(p))
    assert ranks == {(b" ", b"t"): 0, (b" t", b"he"): 1, (b"h", b"e"): 2}
    # greedy lowest-rank application: ' the' -> [' t'] + ['he'] -> [' the']
    assert bpe_encode(" the", ranks, GPT2_PRETOK) == [b" the"]
    assert bpe_decode(bpe_encode(" the zzz", ranks, GPT2_PRETOK)) == " the zzz"


def test_merges_txt_round_trip_through_published_format(tmp_path):
    # the vendored trained table, exported to the GPT-2 file format
    # and reloaded, must be identical — proves the loader against the
    # published serialization without fabricating a "real" vocab
    p = tmp_path / "vendored_merges.txt"
    trained = train_bpe()
    save_merges_txt(trained, str(p))
    assert p.read_text(encoding="utf-8").startswith("#version: 0.2\n")
    reloaded = load_ranks(str(p))
    assert reloaded == trained
    for s in TRICKY:
        assert bpe_count(s, reloaded) == bpe_count(s, trained)


def test_tiktoken_format(tmp_path):
    import base64

    # tiktoken's rank-table format: '<base64 token> <rank>' per line;
    # pair rank == table rank of the merged bytes (tiktoken's BPE step)
    p = tmp_path / "tiny.tiktoken"
    lines = [(b"th", 300), (b"he", 301), (b"the", 302)]
    p.write_text(
        "".join(f"{base64.b64encode(t).decode()} {r}\n" for t, r in lines),
        encoding="utf-8",
    )
    ranks = load_tiktoken(str(p))
    assert isinstance(ranks, TokenTableRanks)
    assert ranks.get((b"t", b"h")) == 300 and ranks.get((b"x", b"y")) is None
    # 'the': (t,h)@300 beats (h,e)@301 -> [th, e]; (th,e)@302 -> [the]
    assert bpe_encode("the", ranks, GPT2_PRETOK) == [b"the"]
    # second pre-token ' the' -> [' ', 'the'] (no ' the' entry): 1 + 2
    assert bpe_count("the the", ranks, GPT2_PRETOK) == 3
    assert bpe_decode(bpe_encode("the ☕", ranks, GPT2_PRETOK)) == "the ☕"
    # dispatch by extension
    assert load_ranks(str(p)) == ranks


def test_gpt2_pretok_handles_unicode_letters():
    # the published pattern's \p{L} rendering must keep accented
    # letters inside letter runs (the ASCII seed pattern splits them)
    toks = GPT2_PRETOK.findall("naïve café ¡hola! _x 12ab")
    assert toks == ["naïve", " café", " ¡", "hola", "!", " _", "x", " 12", "ab"]


def test_udf_with_published_vocab_file(spark, tmp_path):
    # end-to-end: a merges.txt on disk drives the Spark-side count
    # (driver load -> broadcast -> GPT-2 pre-tokenizer in the UDF)
    p = tmp_path / "merges.txt"
    save_merges_txt(train_bpe(), str(p))
    rows = [(i, t) for i, t in enumerate(TRICKY)] + [(99, None)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r["doc_id"]: r["bpe_real_tokens"]
        for r in token_count_bpe(df, vocab_path=str(p)).collect()
    }
    ranks = load_ranks(str(p))
    for i, t in rows:
        assert got[i] == (None if t is None else bpe_count(t, ranks, GPT2_PRETOK))


def test_sink_stamping_with_vocab_file(spark, tmp_path):
    from stakgraph_spark.sources.sinks import prepare_upload_nodes

    p = tmp_path / "merges.txt"
    save_merges_txt(train_bpe(), str(p))
    df = spark.createDataFrame(
        [("k1", "the assistant added a test")], "node_key string, body string"
    )
    (row,) = prepare_upload_nodes(
        df, 1_700_000_000, tokenizer="bpe", vocab_path=str(p)
    ).collect()
    assert row["token_count"] == bpe_count(
        "the assistant added a test", load_ranks(str(p)), GPT2_PRETOK
    )
