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
