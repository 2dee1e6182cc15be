"""BIO/CoNLL ingestion kernel parity (FIXTURES.md F7)."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from generative_ner_spark.functions import textops
from tests.reference_oracle import REF


BIO_CASES = [
    (["B-PER", "I-PER", "O"], [(0, 2, "PER")]),
    (["B-PER", "B-PER"], [(0, 1, "PER"), (1, 2, "PER")]),        # adjacent B
    (["I-PER", "I-PER"], [(0, 2, "PER")]),                        # bare I start
    (["I-PER", "I-LOC"], [(0, 1, "PER"), (1, 2, "LOC")]),        # label change
    (["O", "O"], []),
    (["B-ORG"], [(0, 1, "ORG")]),                                 # trailing at EOS
    (["B-ORG", "I-ORG", "I-ORG", "B-LOC", "I-LOC"],
     [(0, 3, "ORG"), (3, 5, "LOC")]),
    ([], []),
]


@pytest.mark.parametrize("tags,expected", BIO_CASES)
def test_bio_decode_golden(tags, expected):
    assert list(textops.conll_tags_to_spans(tags)) == expected
    assert list(REF._conll_tags_to_spans(tags)) == expected


_tag = st.sampled_from(
    ["O", "B-PER", "I-PER", "B-ORG", "I-ORG", "B-LOC", "I-LOC", "B-MISC", "I-MISC"]
)


@given(st.lists(_tag, max_size=20))
@settings(max_examples=300, deadline=None)
def test_bio_decode_parity_fuzz(tags):
    assert list(textops.conll_tags_to_spans(tags)) == list(
        REF._conll_tags_to_spans(tags)
    )


def test_words_to_text_offsets():
    words = ["Alice", "met", "Bob", "."]
    text, pos = textops.conll_words_to_text(words)
    assert text == "Alice met Bob ."
    assert pos == [(0, 5), (6, 9), (10, 13), (14, 15)]
    rtext, rpos = REF._conll_words_to_text(words)
    assert (rtext, rpos) == (text, pos)
    for (s, e), w in zip(pos, words):
        assert text[s:e] == w


@given(st.lists(st.text(alphabet="abcXYZ", min_size=1, max_size=8), max_size=10))
@settings(max_examples=200, deadline=None)
def test_words_to_text_parity_fuzz(words):
    assert textops.conll_words_to_text(words) == REF._conll_words_to_text(words)


def test_conll_to_example_end_to_end():
    words = ["EU", "rejects", "German", "call", "."]
    tags = ["B-ORG", "O", "B-MISC", "O", "O"]
    ours = textops.conll_to_example(words, tags)
    ref = REF._conll_to_example(words, tags)
    assert ours == ref
    assert ours["entities"][0] == {"start": 0, "end": 2, "label": "ORG", "text": "EU"}
