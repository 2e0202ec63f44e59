"""GPT-2/chat encode templates against the driver-side references.

``gpt2_encoded`` / ``gpt2_token_ids`` / ``chat.sft_tokens`` each build
ONE parsed SQL template over a column NAME. This file pins them to
independent references — ``text.gpt2_apply_reference`` for the encode
chain, ``chat.sft_tokens_batch`` (the Arrow path over the same
``_encode_constant`` template pieces) for the token-space loss mask —
over adversarial inputs: quotes/backslashes/tabs/newlines (the SQL
literal escaping), unicode (OOV NULL ids), NULL/empty strings, NULL
roles/contents, empty conversations — across both templates and the
special-ids mode. It also pins the refusal of the legacy string
escaping conf on every template build.
"""

from __future__ import annotations

import pytest

from mongodb_etl_migration_spark.operators import chat as CH
from mongodb_etl_migration_spark.operators import text as T

MERGES = T.parse_merges(
    """\
Ġ t
Ġ a
h e
i n
r e
o n
he llo
w o
r l
d s
"""
)

TEXTS = [
    "hello world",
    "",
    None,
    "it's a test\nwith newline\tand tab",
    "quote ' and \\ backslash",
    "ñ unicode 💡",
    "  spaces  ",
    "the quick brown fox",
    "a" * 200,
]

CONVS = [
    [(0, "user", "hello there"), (1, "assistant", "hi! it's me"), (2, "user", "bye")],
    [(0, "assistant", "only assistant\nmultiline")],
    [(0, None, "null role"), (1, "assistant", None)],
    [],
    [(0, "system", "you're helpful"), (1, "assistant", "quote ' \\ tab\t")],
]


@pytest.fixture(scope="module")
def text_df(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "i int, t string"
    )


@pytest.fixture(scope="module")
def conv_df(spark):
    return spark.createDataFrame(
        [(i, c) for i, c in enumerate(CONVS)],
        f"doc_id int, turns {CH.TURN_STRUCT}",
    )


def _ascii_scope_pieces(text: str) -> list[str]:
    """The documented ASCII-scope chain: pretokens with the three ASCII
    whitespace bytes mapped through the GPT-2 alphabet, every other
    character taken as a symbol, then the merge loop. On ASCII text it
    IS gpt2_apply_reference (asserted below)."""
    rank = {pair: i for i, pair in enumerate(MERGES)}
    ws = str.maketrans(" \t\n", "ĠĉĊ")
    out: list[str] = []
    for tok in T.gpt2_pretokenize_reference(text):
        out.extend(T.bpe_apply_reference(tok.translate(ws), MERGES, rank))
    return out


def test_gpt2_encoded_sql_matches_column_form(text_df):
    """gpt2_encoded equals the reference encoder's symbol string."""
    rows = text_df.select("t", T.gpt2_encoded("t", MERGES).alias("s"))
    for r in rows.collect():
        t = r["t"]
        if t is None:
            assert r["s"] is None
            continue
        want = _ascii_scope_pieces(t)
        if t.isascii():
            assert want == T.gpt2_apply_reference(t, MERGES)
        assert r["s"] == " ".join(want), repr(t)


def test_gpt2_token_ids_sql_matches_column_form(text_df):
    """gpt2_token_ids equals the reference ids; a symbol outside the
    byte alphabet (the emoji) is a NULL id, not an error."""
    vocab = T.gpt2_vocab(MERGES)
    rows = text_df.select(
        "t", T.gpt2_token_ids("t", MERGES).alias("s")
    ).collect()
    for r in rows:
        t = r["t"]
        if t is None:
            assert r["s"] is None
            continue
        want = [vocab.get(p) for p in _ascii_scope_pieces(t)]
        assert r["s"] == want, repr(t)
    oov = next(r["s"] for r in rows if r["t"] == "ñ unicode 💡")
    assert oov[-1] is None and None not in oov[:-1]


@pytest.mark.parametrize("template", ["tagged", "chatml"])
@pytest.mark.parametrize("use_special", [False, True])
def test_sft_tokens_sql_matches_column_form(conv_df, template, use_special):
    """sft_tokens equals the Arrow-batched reference path
    (sft_tokens_batch) on the shared ASCII scope, ids and spans."""
    sids = (
        CH.special_token_ids(MERGES, ["<|im_start|>", "<|im_end|>"])
        if use_special
        else None
    )
    got = {
        r["doc_id"]: r["s"]
        for r in conv_df.select(
            "doc_id",
            CH.sft_tokens(
                "turns", MERGES, template, special_ids=sids
            ).alias("s"),
        ).collect()
    }
    want = {
        r["doc_id"]: r
        for r in CH.sft_tokens_batch(
            conv_df, "turns", MERGES, template, special_ids=sids
        ).collect()
    }
    assert set(got) == set(want)
    for doc_id, s in got.items():
        w = want[doc_id]
        assert " ".join(map(str, s["token_ids"])) == w["token_ids"]
        assert ",".join(
            f"{x['turn_idx']}:{x['tok_start']}:{x['tok_end']}"
            for x in s["mask_spans"]
        ) == w["mask_spans"]


def test_sql_templates_refuse_legacy_escaping(spark):
    """Under spark.sql.parser.escapedStringLiterals=true every
    escaped template literal would silently change value, so every
    template build refuses the conf — also after an earlier build in
    the same process succeeded under the default."""
    T.gpt2_token_ids("t", MERGES)
    spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    try:
        with pytest.raises(ValueError, match="escapedStringLiterals"):
            T.gpt2_token_ids("t", MERGES)
    finally:
        spark.conf.set("spark.sql.parser.escapedStringLiterals", "false")
    T.gpt2_token_ids("t", MERGES)
    assert T._sql_str("a'b") == "'a\\'b'"


def test_gpt2_dotted_name_falls_back_to_column_path(spark):
    """gpt2_encoded/gpt2_token_ids with a dotted name resolve the
    nested field like F.col (the name renders through sql_ref)."""
    merges = [("h", "e"), ("he", "l")]
    df = spark.createDataFrame(
        [(1, ("hello",))], "id int, s struct<txt:string>"
    )
    out = df.select(
        T.gpt2_encoded("s.txt", merges).alias("e"),
        T.gpt2_token_ids("s.txt", merges).alias("i"),
    ).collect()[0]
    pieces = T.gpt2_apply_reference("hello", merges)
    vocab = T.gpt2_vocab(merges)
    assert out["e"] == " ".join(pieces)
    assert out["i"] == [vocab[p] for p in pieces]
