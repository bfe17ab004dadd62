"""Property-based tests (SURVEY.md §5.5) over randomly generated documents:
order preservation, subsequence, idempotence, and no-crash robustness —
no oracle required, so hypothesis can range wider than the fuzz suite."""

from hypothesis import given, settings
from hypothesis import strategies as st

from recrun_spark.fixtures.fuzz import random_doc
from recrun_spark.readability import MEDIA_TAGS, Settings, extract


@settings(max_examples=60, deadline=None)
@given(ix=st.integers(min_value=0, max_value=10**6),
       skip0=st.booleans())
def test_extraction_properties(ix, skip0):
    spans = random_doc(ix, seed=123456)
    cfg = Settings.full() if skip0 else Settings.shipped()
    out = extract(spans, cfg)

    by_offset = {s[3]: s for s in spans}
    offsets = [s[3] for s in out["retained_spans"]]
    # order preservation: output offsets strictly increase
    assert offsets == sorted(offsets) and len(set(offsets)) == len(offsets)
    for kind, text, media_ref, off in out["retained_spans"]:
        src = by_offset[off]
        if kind == "text":
            # text spans pass through verbatim from the input span
            assert src[0] == "text" and src[1] == text
        else:
            assert kind in MEDIA_TAGS and src[0] == f"open:{kind}"
    # scalar sanity
    assert out["text_length"] >= 0
    assert isinstance(out["score"], int)

    # idempotence / determinism
    again = extract(spans, cfg)
    assert again == out


@settings(max_examples=30, deadline=None)
@given(ix=st.integers(min_value=0, max_value=10**6))
def test_media_retention_invariant(ix):
    """Any media span the fold retains must carry the src URL from its
    input media_ref (minus the #dims fragment)."""
    spans = random_doc(ix, seed=654321)
    out = extract(spans, Settings.shipped())
    by_offset = {s[3]: s for s in spans}
    for kind, _t, media_ref, off in out["retained_spans"]:
        if kind == "text":
            continue
        src_ref = by_offset[off][2]
        if media_ref:
            assert src_ref.startswith(media_ref) or media_ref in src_ref


@settings(max_examples=120, deadline=None)
@given(seed=st.integers(min_value=0, max_value=10**9))
def test_trie_matcher_matches_regex_semantics(seed):
    """Differential fuzz: the engine's one matcher (``TrieMatcher``) must
    agree with the regex alternation ``\\b(?:longest|...|shortest)\\b``
    that specifies it, on every (dictionary, text) — same matches, same
    offsets, same order — including surfaces that start or end with a
    non-word character."""
    import random
    import re

    from recrun_spark.linking import (TrieMatcher, build_alias_pattern,
                                      find_mentions)
    rng = random.Random(seed)
    base = ["orion", "corp", "vega", "nova", "data", "x1", "éclair",
            "co_op", "mail", "e-mail", "alpha", "7even", "a",
            "c++", ".net", "--", "u.s.", "+"]
    surfaces = set()
    for _ in range(rng.randrange(1, 12)):
        surfaces.add(rng.choice([" ", "", "-"]).join(
            rng.choice(base) for _ in range(rng.randrange(1, 4))))
    ordered = sorted(surfaces, key=lambda s: (-len(s), s))
    regex = re.compile(r"\b(?:" + "|".join(map(re.escape, ordered)) + r")\b")
    trie = build_alias_pattern(surfaces)
    assert isinstance(trie, TrieMatcher)

    pieces = []
    for _ in range(rng.randrange(0, 60)):
        r = rng.random()
        if r < 0.45:
            pieces.append(rng.choice(base))
        elif r < 0.75:
            pieces.append(rng.choice(sorted(surfaces)))
        else:
            pieces.append(rng.choice(["...", "—", "7", "_", "FooBar", "co",
                                      "orionx", "xorion", "ÉCLAIR", "", "é"]))
        pieces.append(rng.choice([" ", "  ", ", ", ".", "-", "\n", "", "+",
                                  "!"]))
    text = "".join(pieces)
    expected = [(m.group(0), m.start()) for m in regex.finditer(text.lower())]
    assert find_mentions(text, trie) == expected, (ordered, text)
