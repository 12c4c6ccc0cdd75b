"""Ground-truth unit tests for the bit-packed word counter.

_count_words is the hot path of span classification (MIN_CONTENT_WORDS /
REPEAT_MAX_WORDS, SPEC §3) and of the word_count metadata; it must equal
len(s.split()) exactly for any Unicode text: every str.isspace() code
point splits, no look-alike does, and the result does not depend on where
a string sits relative to a 64-bit word, a scan block or the start of the
Arrow buffer. That includes trailing-empty / null elements whose start
offset equals the buffer length (the round-1 regression: a trailing empty
string wrapped onto the previous string's last byte and inflated its
count by one).
"""

from __future__ import annotations

import random

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from docling_nlp_api_spark.operators.extract import _BLOCK, _count_words

# every code point Python splits on
WHITESPACE = [chr(c) for c in range(0x110000) if chr(c).isspace()]
# non-space characters that share a UTF-8 lead byte (or a near code point)
# with a whitespace character
LOOKALIKES = [
    "\u200b", "\u2010", "\u201c", "\u180e", "\ufeff", "\u00a9", "\u1681",
    "\u205e", "\u3001",
]


def truth(strings):
    return [0 if s is None else len(s.split()) for s in strings]


def check(strings):
    arr = pa.array(strings, type=pa.string())
    assert list(_count_words(arr)) == truth(strings), strings


CASES = [
    ["ab", ""],                      # the regression: must be [1, 0] not [2, 0]
    ["hello world", "x", ""],
    ["", ""],
    ["", "a"],
    ["a b  c", "", "d"],
    [" lead", "trail ", "   "],
    ["one"],
    [],
    ["tab\there", "new\nline", ""],
    ["a", "", "", "b", ""],
    ["été café", "中 文", ""],  # multi-byte UTF-8
]


@pytest.mark.parametrize("case", CASES, ids=range(len(CASES)))
def test_count_words_ground_truth(case):
    got = list(_count_words(np.array(case, dtype=object)))
    assert got == truth(case), (case, got)


def test_count_words_arrow_nulls():
    arr = pa.array(["ab", None, "", "x y", None], type=pa.string())
    assert list(_count_words(arr)) == [1, 0, 0, 2, 0]


def test_whitespace_set_is_the_29_isspace_code_points():
    assert len(WHITESPACE) == 29


@pytest.mark.parametrize("ws", WHITESPACE, ids=[f"U+{ord(c):04X}" for c in WHITESPACE])
def test_every_isspace_code_point_splits(ws):
    check([ws + "ab", "ab" + ws + "cd", "ab" + ws, ws, "é" + ws + "中", ws * 3 + "x" + ws])
    # each position again as the first and last string of the buffer
    check([ws + "x", "y" + ws])
    check(["y" + ws + "z"])


@pytest.mark.parametrize("ch", LOOKALIKES, ids=[f"U+{ord(c):04X}" for c in LOOKALIKES])
def test_lookalikes_do_not_split(ch):
    check([ch + "ab", "ab" + ch + "cd", "ab" + ch, ch, ch + " " + ch, "a" + ch + "\u00a0" + ch])
    assert list(_count_words(pa.array(["ab" + ch + "cd"]))) == [1]


def test_sliced_array_with_offset():
    strings = ["a b", "\u3000x", "y\u2009z ", "", None, "q\x1cr\u00a0s", "end"]
    arr = pa.array(strings, type=pa.string())
    for k in range(len(strings)):
        for m in range(len(strings) - k + 1):
            sliced = arr.slice(k, m)
            assert list(_count_words(sliced)) == truth(strings[k : k + m]), (k, m)


@pytest.mark.parametrize("boundary", [64, 128, _BLOCK, 2 * _BLOCK])
def test_strings_across_word_and_block_boundaries(boundary):
    """A string start, a word start or a multi-byte space straddling a
    64-bit word or a scan block must count the same as anywhere else."""
    for sep in [" ", "\u00a0", "\u2009", "\u3000", "\x1c"]:
        for shift in range(-4, 4):
            head = "w " * ((boundary + shift) // 2)
            head = head[: boundary + shift]
            # a non-space string ending right at / near the boundary,
            # followed by strings that start there
            check([head, "x" + sep + "y", sep + "z", "", None])
            check([head + sep + "tail", "next"])
            check([head + "é" + sep + "中", "", None])


def test_empty_and_null_at_end_of_buffer():
    check(["word", ""])
    check(["word", None])
    check(["word ", "", None, ""])
    check(["a\u3000", None])
    check([None, None])
    check(["", ""])


def test_fuzz_against_str_split():
    """Seeded lists over every whitespace and look-alike character,
    whole and sliced."""
    alphabet = WHITESPACE + LOOKALIKES + list("ab-é中") + ["\U0001f600", "\u0085"]
    rng = random.Random(0)
    for _ in range(600):
        strings = []
        for _ in range(rng.randint(0, 10)):
            r = rng.random()
            if r < 0.05:
                strings.append(None)
            elif r < 0.1:
                strings.append("")
            else:
                size = rng.randint(1, rng.choice([4, 30, 150]))
                strings.append("".join(rng.choice(alphabet) for _ in range(size)))
        check(strings)
        if len(strings) > 1:
            k = rng.randint(1, len(strings) - 1)
            m = rng.randint(0, len(strings) - k)
            arr = pa.array(strings, type=pa.string()).slice(k, m)
            assert list(_count_words(arr)) == truth(strings[k : k + m])


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.text(alphabet=" \t\n\r\v\f\x1c\u00a0\u2009\u3000abX-é", max_size=12),
        max_size=8,
    )
)
def test_count_words_property(strings):
    got = list(_count_words(np.array(strings, dtype=object)))
    assert got == truth(strings)
