"""Span-sequence equality vs the reference chunkers.

The reference's standalone chunking module
(/root/reference/src/llm_scraper/chunking.py) depends only on pydantic +
stdlib, so we import it directly (by file path, skipping the package
__init__ which needs bs4) and use it as the oracle. The Article-method
variant (articles.py:240-297) cannot be imported (bs4), but it is the
standalone algorithm minus the oversized-item branch — asserted by the
agreement test below plus a transcribed oversize case.
"""

import importlib.util
import math
import pathlib
import re
import sys

import pytest
from hypothesis import given, settings, strategies as st

from llm_scraper_spark.operators.chunker import (
    chunk_by_char,
    chunk_by_token_estimate,
    chunk_text_by_char,
    chunk_text_by_token_estimate,
    count_words,
    estimate_tokens,
    interleave_spans,
)

REF = pathlib.Path("/root/reference/src/llm_scraper")


def _load_ref_chunking():
    # load utils.text then chunking as standalone modules (no package import)
    spec_t = importlib.util.spec_from_file_location("ref_utils_text", REF / "utils/text.py")
    mod_t = importlib.util.module_from_spec(spec_t)
    spec_t.loader.exec_module(mod_t)
    sys.modules.setdefault("ref_utils_text", mod_t)

    src = (REF / "chunking.py").read_text()
    src = src.replace("from .utils.text import", "from ref_utils_text import")
    mod = type(sys)("ref_chunking")
    sys.modules["ref_chunking"] = mod  # pydantic resolves annotations via sys.modules
    exec(compile(src, str(REF / "chunking.py"), "exec"), mod.__dict__)
    return mod_t, mod


# The reference tree is not part of this repository. Without it the tests
# below that compare against it skip. Chunker output stays pinned by
# goldens/spans_*.parquet (tests/test_goldens.py), goldens/crawl_doc_spans
# .parquet (the crawl_media_align entry query) and
# tests/test_crawl.py::test_crawl_documents_match_simulator, which checks
# the Spark spans against this module's pure-Python chunker.
HAVE_REF = (REF / "chunking.py").is_file()
needs_ref = pytest.mark.skipif(
    not HAVE_REF, reason=f"reference chunker {REF / 'chunking.py'} is absent")
REF_TEXT, REF_CHUNKING = _load_ref_chunking() if HAVE_REF else (None, None)

TEXTS = [
    "",
    "Hello world.",
    "One. Two! Three? Four. " * 50,
    "A sentence without terminal punctuation just words " * 120,
    'He said "Quoted start." Then another. ' * 80,
    "Sentences with numbers. 42 is the answer. 7 wonders exist. " * 60,
    "Unicode çöğüşi word. Ça va bien. Älter werden. " * 40,
    "supercalifragilistic " * 700,  # one giant 'sentence' (oversize path)
    "Tabs\tand\nnewlines. Mixed   spaces. " * 30,
    "“Smart quotes start.” ‘And single.’ Yes. " * 25,
]


@pytest.mark.parametrize("max_tokens,overlap", [(512, 50), (800, 64), (100, 10), (50, 0)])
@pytest.mark.parametrize("text_idx", range(len(TEXTS)))
@needs_ref
def test_standalone_chunker_matches_reference(text_idx, max_tokens, overlap):
    text = TEXTS[text_idx]
    ref = REF_CHUNKING.chunk_text_by_token_estimate(
        text, max_tokens=max_tokens, overlap_tokens=overlap
    )
    ours = chunk_text_by_token_estimate(text, max_tokens=max_tokens, overlap_tokens=overlap)
    assert ours == [c.content for c in ref]
    # index/order equality: reference indices are the list positions
    assert list(range(len(ours))) == [c.index for c in ref]


@pytest.mark.parametrize("max_chars,overlap", [(2000, 200), (100, 20), (50, 60)])
@pytest.mark.parametrize("text_idx", range(len(TEXTS)))
@needs_ref
def test_char_chunker_matches_reference(text_idx, max_chars, overlap):
    text = TEXTS[text_idx]
    ref = REF_CHUNKING.chunk_text_by_char(text, max_chars=max_chars, overlap_chars=overlap)
    ours = chunk_text_by_char(text, max_chars=max_chars, overlap_chars=overlap)
    assert ours == [c.content for c in ref]


@needs_ref
@given(st.text(alphabet=st.characters(codec="utf-8",
                                      exclude_categories=("Cs",)), max_size=4000))
@settings(max_examples=150, deadline=None)
def test_standalone_chunker_matches_reference_fuzz(text):
    ref = REF_CHUNKING.chunk_text_by_token_estimate(text, max_tokens=64, overlap_tokens=16)
    ours = chunk_text_by_token_estimate(text, max_tokens=64, overlap_tokens=16)
    assert ours == [c.content for c in ref]


@needs_ref
def test_method_variant_agrees_when_no_oversize():
    """articles.py:240-297 == chunking.py:97-192 when no sentence exceeds
    max_tokens — the production (512/50) path on normal prose."""
    for text in TEXTS:
        sents = re.split(r"(?<=[.?!])\s+(?=[A-Z0-9\"'“‘])", text.strip()) if text.strip() else []
        if any(estimate_tokens(s) > 512 for s in sents):
            continue
        ref = REF_CHUNKING.chunk_text_by_token_estimate(text.strip(), 512, 50)
        ours = chunk_by_token_estimate(text, 512, 50)
        assert ours == [c.content for c in ref]


def test_method_variant_oversize_semantics():
    """The method variant has NO oversize split (divergent copies,
    SURVEY.md §2.9 C2): a giant sentence lands in one chunk."""
    giant = "word " * 3000  # no sentence boundary
    ours = chunk_by_token_estimate(giant, 512, 50)
    # buffer flushes never split the oversized single 'sentence'
    assert len(ours) == 1 and ours[0] == giant.strip()
    standalone = chunk_text_by_token_estimate(giant.strip(), 512, 50)
    assert len(standalone) > 1  # the standalone variant DOES split it


@needs_ref
def test_word_and_token_counts_match_reference():
    for text in TEXTS:
        assert count_words(text) == REF_TEXT.count_words(text)
        assert estimate_tokens(text) == REF_TEXT.estimate_tokens_from_text(text)


def test_chunk_by_char_headline_strip():
    title = "The Headline"
    content = title + " body text here " * 50
    stripped = chunk_by_char(content, 100, 10, preserve_headline=True, title=title)
    kept = chunk_by_char(content, 100, 10, preserve_headline=False, title=title)
    assert not stripped[0].startswith(title)
    assert kept[0].startswith(title)


def test_interleave_spans_policy():
    spans = interleave_spans(["a", "b", "c", "d"], ["m1", "m2"])
    kinds = [s["kind"] for s in spans]
    assert [s["offset"] for s in spans] == list(range(6))
    assert [s["text"] for s in spans if s["kind"] == "text"] == ["a", "b", "c", "d"]
    assert [s["media_ref"] for s in spans if s["kind"] == "media"] == ["m1", "m2"]
    # media evenly interleaved: m1 after chunk ceil(1*4/3)=2, m2 after ceil(2*4/3)=3
    assert kinds == ["text", "text", "media", "text", "media", "text"]
    # degenerate cases
    assert interleave_spans([], ["m"])[0]["kind"] == "media"
    assert interleave_spans(["t"], [])[0]["kind"] == "text"


@needs_ref
def test_production_spans_reference_equality_on_fixture_texts():
    """Golden equality at production params (512/50) over long mixed texts:
    the text-span subsequence equals the reference chunker exactly."""
    for text in TEXTS:
        sents = re.split(r"(?<=[.?!])\s+(?=[A-Z0-9\"'“‘])", text.strip()) if text.strip() else []
        if any(estimate_tokens(s) > 512 for s in sents):
            continue  # method variant intentionally diverges there
        ref = REF_CHUNKING.chunk_text_by_token_estimate(text.strip(), 512, 50)
        spans = interleave_spans(chunk_by_token_estimate(text), ["x.jpg", "y.jpg"])
        got = [(s["text"]) for s in spans if s["kind"] == "text"]
        assert got == [c.content for c in ref]
        offs = [s["offset"] for s in spans]
        assert offs == sorted(offs) == list(range(len(spans)))


# ---------------------------------------------------------------------------
# count-once chunker vs the per-sentence loop it replaced
# ---------------------------------------------------------------------------

def oracle_chunk_by_token_estimate(text, max_tokens=512, overlap_tokens=50,
                                   sentence_split=True):
    """The production chunker before words were counted once: one
    findall for the single-chunk bound, then one per sentence, plus a
    re-join and re-split for every overlap."""
    from llm_scraper_spark.operators.chunker import SENT_SPLIT_RE

    text = (text or "").strip()
    if not text:
        return []
    sents = SENT_SPLIT_RE.split(text) if sentence_split else text.split()
    if int(len(sents) + count_words(text) * 1.33) <= max_tokens:
        single = " ".join(sents).strip()
        return [single] if single else []
    chunks, cur_buf, cur_tokens = [], [], 0
    for sent in sents:
        sent_tokens = estimate_tokens(sent)
        if cur_tokens + sent_tokens > max_tokens and cur_buf:
            chunk_text = " ".join(cur_buf).strip()
            if chunk_text:
                chunks.append(chunk_text)
            if overlap_tokens > 0:
                overlap_words = int(overlap_tokens / 1.33)
                words = " ".join(cur_buf).split()
                cur_buf = words[-overlap_words:] if overlap_words > 0 else []
                cur_tokens = estimate_tokens(" ".join(cur_buf))
            else:
                cur_buf = []
                cur_tokens = 0
        cur_buf.append(sent)
        cur_tokens += sent_tokens
    tail = " ".join(cur_buf).strip()
    if tail:
        chunks.append(tail)
    return chunks


_WORD = st.text(alphabet=st.sampled_from(
    list("abcXYZ09_") + ["\u00e9", "\u00df", "\u0416", "\u4e2d", "\u0301",
                         "\u00b2", "\u0663"]), min_size=1, max_size=8)
_GLUE = st.sampled_from(
    [" ", "  ", "\n", "\t", "\u00a0", "\u2003", "\u3000", "-", "'",
     "\u2014", "\u2026", " \u201c", "\u201d ", "\u00bf"])
_END = st.sampled_from([".", "?", "!", "\u3002", ",", "", "...", ".\u201d"])
_SENT = st.builds(
    lambda first, words, glue, end: first + "".join(
        g + w for g, w in zip(glue, words)) + end,
    st.sampled_from(["A", "Zed", "9", "\u201cQ", "'Hi", "\u00c9t", "low"]),
    st.lists(_WORD, max_size=25), st.lists(_GLUE, min_size=25, max_size=25),
    _END)
_SEP = st.sampled_from([" ", "  ", "\n", "\u00a0", "\t "])


@st.composite
def _doc(draw):
    """Sentences joined by whitespace; a drawn repeat count takes a
    share of the documents past a 512-token budget."""
    sents = draw(st.lists(_SENT, max_size=30))
    seps = draw(st.lists(_SEP, min_size=len(sents), max_size=len(sents)))
    return "".join(s + p for s, p in zip(sents, seps)) * draw(
        st.integers(1, 40))


@pytest.mark.parametrize("max_tokens,overlap", [(512, 50), (64, 0)])
@given(text=_doc())
@settings(max_examples=300, deadline=None)
def test_count_once_chunker_equals_oracle(text, max_tokens, overlap):
    assert chunk_by_token_estimate(text, max_tokens, overlap) == \
        oracle_chunk_by_token_estimate(text, max_tokens, overlap)
    assert chunk_by_token_estimate(text, max_tokens, overlap, False) == \
        oracle_chunk_by_token_estimate(text, max_tokens, overlap, False)


@pytest.mark.parametrize("max_tokens,overlap", [(512, 50), (64, 0)])
def test_count_once_chunker_covers_both_paths(max_tokens, overlap):
    """Single- and multi-chunk output, each reached with both counting
    orders (whole text for short texts, per sentence for long ones)."""
    short = "Short one. Another here."
    short_many = " ".join(["Wo x."] * max_tokens)                 # < 8/token
    long_few = "Few words. " + "- " * (8 * max_tokens) + "End."   # > 8/token
    long_many = " ".join(f"Sentence {i} has caf\u00e9 words." for i in range(300))
    for text in (short, short_many, long_few, long_many, *TEXTS):
        assert chunk_by_token_estimate(text, max_tokens, overlap) == \
            oracle_chunk_by_token_estimate(text, max_tokens, overlap)
    assert len(short_many) <= 8 * max_tokens < len(long_few)
    assert len(chunk_by_token_estimate(short, max_tokens, overlap)) == 1
    assert len(chunk_by_token_estimate(long_few, max_tokens, overlap)) == 1
    assert len(chunk_by_token_estimate(long_many, max_tokens, overlap)) > 1
    assert len(chunk_by_token_estimate(short_many, max_tokens, overlap)) > 1
