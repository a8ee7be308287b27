"""Chunker parity: our split_text vs the reference's
raptor/utils.py:22-100 split_text, SAME tokenizer injected into both
(tokenizer is a parameter of the reference function, so this is a true
apples-to-apples semantic check)."""

import string

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from raptor_rag_spark.operators.chunk import split_text
from raptor_rag_spark.tokenizer import DEFAULT_TOKENIZER

from tests.conftest import load_reference_utils

try:
    ref_utils = load_reference_utils()
except FileNotFoundError:
    pytest.skip(
        reason="reference RAPTOR checkout not present; the chunk-md5 oracle "
        "still pins chunker output",
        allow_module_level=True,
    )

SAMPLES = [
    "",
    "   \n  \n ",
    "Hello world. This is a test! Is it? Yes\nnew line here.",
    "Bir berber bir berbere gel beraber bir berber dükkanı açalım demiş! "
    "Çok güzel olur mu? Olur.\nTürkçe cümleler de var.",
    "a, b; c: d " * 50 + ".",  # long sentence -> sub-split path
    ("word " * 120 + ". ") * 3,  # oversize sentences without , ; :
    "one two three. " * 40,
    "x" * 500 + ". short one.",
    "Sentence with trailing spaces   .  Another    one  .",
    "no terminal punctuation at all just words " * 10,
]


@pytest.mark.parametrize("max_tokens", [5, 17, 100])
@pytest.mark.parametrize("overlap", [0])
def test_fixed_samples(max_tokens, overlap):
    for text in SAMPLES:
        ours = split_text(text, DEFAULT_TOKENIZER, max_tokens, overlap)
        theirs = ref_utils.split_text(text, DEFAULT_TOKENIZER, max_tokens, overlap)
        assert ours == theirs, f"mismatch for {text[:60]!r} @ max_tokens={max_tokens}"


@pytest.mark.parametrize("overlap", [1, 2])
def test_overlap_matches_reference_including_its_bug(overlap):
    for text in SAMPLES:
        ours = split_text(text, DEFAULT_TOKENIZER, 12, overlap)
        theirs = ref_utils.split_text(text, DEFAULT_TOKENIZER, 12, overlap)
        assert ours == theirs


text_alphabet = string.ascii_lowercase + " .!?\n,;:éçşı"


@settings(max_examples=200, deadline=None)
@given(
    st.text(alphabet=text_alphabet, max_size=400),
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=0, max_value=3),
)
def test_property_parity(text, max_tokens, overlap):
    ours = split_text(text, DEFAULT_TOKENIZER, max_tokens, overlap)
    theirs = ref_utils.split_text(text, DEFAULT_TOKENIZER, max_tokens, overlap)
    assert ours == theirs


@settings(max_examples=100, deadline=None)
@given(st.text(alphabet=text_alphabet, max_size=400), st.integers(min_value=2, max_value=40))
def test_chunk_token_bound(text, max_tokens):
    """Property: no emitted chunk exceeds max_tokens unless it is a
    single unsplittable sub-sentence (the reference emits those whole)."""
    for chunk in split_text(text, DEFAULT_TOKENIZER, max_tokens, 0):
        n = len(DEFAULT_TOKENIZER.encode(chunk))
        if n > max_tokens:
            # must be one sub-sentence with no [,;:] splits possible
            import re

            assert len([p for p in re.split(r"[,;:]", chunk) if p.strip()]) == 1
