"""Lemma dictionaries at AntBNC scale from public English morphology.

The reference lemmatizes with Spark-NLP's pretrained AntBNC dictionary
(~100k inflected→lemma entries; transform/execute.py:198-202). That
artifact is a packaged download, not vendorable here — so this module
closes M4 (SURVEY §2.10) with the two public ingredients a dictionary
lemmatizer actually needs:

1. **Regular English inflectional morphology** (standard orthographic
   rules — sibilant ``-es``, ``y→ies/ied``, ``e``-drop before ``-ing``,
   final-consonant doubling, CVC heuristics): ``expand_inflections``
   generates inflected→lemma pairs *forward* from any base lexicon, and
   the reverse rules generate candidate lemmas for an observed token.
2. **Corpus-driven induction** (``induce_lemma_map``): over any corpus,
   pair each vocabulary token with its highest-priority rule-derived
   candidate *that itself occurs in the corpus vocabulary*. The
   vocabulary-membership filter is what makes heuristic rules safe:
   "walking"→"walk" only materializes when "walk" is attested, and junk
   strips ("gas"→"ga") never are. Irregular forms come from the shipped
   irregular fixture (ml/lemmas_en_small.json), exactly the split a
   published lemma list encodes.

Scale shape: induction is one aggregation (count the tokens, one shuffle
on token) whose distinct-token counts are collected to the driver; the
reverse rules then run in Python over those distinct tokens. It counts
the token frame the TF-IDF fit has already persisted
(ml/tfidf.py:fit_document_vectors), so the text is split once for both.
The driver holds one (token, count) pair per distinct token: ≈15k for
the 2k-row benchmark corpus, ≈28k for the 12k-row serve corpus, ≈100 B
each in the driver's dict (more while the collected rows are alive). A
million-token vocabulary costs ≈100 MB, the same driver-resident bound
the reference accepts by broadcasting AntBNC into its transform closures
(SURVEY §4 broadcast row). The map returned is bounded by
``max_entries``.
"""

from __future__ import annotations

import re
from collections.abc import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Final CVC (consonant-vowel-consonant, last consonant not w/x/y): the
# standard orthographic trigger for consonant doubling ("stop"→"stopped")
# and, reversed, for preferring the e-restored base ("hoping"→"hope", since
# a bare "hop" would have doubled to "hopping").
_CVC = r"[^aeiou][aeiou][^aeiouwxy]"


def expand_inflections(lemmas: Iterable[str]) -> dict[str, str]:
    """Forward regular morphology: {inflected: lemma} for the 3rd-person
    singular / plural ``-s``, past ``-ed`` and gerund ``-ing`` families of
    every base word, with standard orthography (sibilant ``-es``,
    ``y→ies/ied``, ``e``-drop, monosyllabic CVC doubling). Irregular forms
    are a *dictionary's* job, not a rule's — union the result with the
    irregular fixture. ~4 entries per base word, so a 15k-word lexicon
    yields an AntBNC-order dictionary."""
    out: dict[str, str] = {}
    for w in lemmas:
        if len(w) < 2 or not w.isalpha() or not w.islower():
            continue
        forms: set[str] = set()
        if re.search(r"(s|x|z|ch|sh)$", w):
            forms.add(w + "es")
        elif re.search(r"[^aeiou]y$", w):
            forms.add(w[:-1] + "ies")
        else:
            forms.add(w + "s")
        double = re.search(_CVC + "$", w) is not None and len(w) <= 4
        if w.endswith("e"):
            forms.add(w + "d")
        elif re.search(r"[^aeiou]y$", w):
            forms.add(w[:-1] + "ied")
        elif double:
            forms.add(w + w[-1] + "ed")
        else:
            forms.add(w + "ed")
        if w.endswith("ie"):
            forms.add(w[:-2] + "ying")
        elif w.endswith("e") and not w.endswith("ee"):
            forms.add(w[:-1] + "ing")
        elif double:
            forms.add(w + w[-1] + "ing")
        else:
            forms.add(w + "ing")
        for f in forms:
            if f != w:
                out.setdefault(f, w)
    return out


def candidate_lemmas(tok: str) -> list[str]:
    """Candidate lemmas for ``tok``, best candidate first. Reverse of
    :func:`expand_inflections`, with the CVC heuristic ordering the
    ``-ed``/``-ing`` ambiguity (e-restored base first exactly when a bare
    base would have doubled: "hoping"→hope before hop, but
    "walking"→walk before walke). Candidates may repeat or be junk
    ("gas"→"ga"); :func:`induce_lemma_map` keeps only attested ones."""
    out: list[str] = []
    n = len(tok)
    # -s family (most specific first)
    if re.search(r"..ies$", tok):
        out.append(tok[:-3] + "y")
    if re.search(r"(ch|sh|s|x|z)es$", tok):
        out.append(tok[:-2])
    if re.search(r"[^siu]s$", tok):
        out.append(tok[:-1])
    # -ed family: doubled-consonant undouble, then the CVC-ordered
    # e-restored / bare-strip pair
    if n >= 4 and tok.endswith("ed"):
        if tok[-3] == tok[-4] and tok[-3] not in "aeiou":
            out.append(tok[:-3])
        if n >= 5 and tok.endswith("ied"):
            out.append(tok[:-3] + "y")
        cvc = re.search(_CVC + "ed$", tok) is not None
        out += [tok[:-1], tok[:-2]] if cvc else [tok[:-2], tok[:-1]]
    # -ing family, same shape
    if n >= 5 and tok.endswith("ing"):
        if tok.endswith("ying"):
            out.append(tok[:-4] + "ie")
        if tok[-4] == tok[-5] and tok[-4] not in "aeiou":
            out.append(tok[:-4])
        cvc = re.search(_CVC + "ing$", tok) is not None
        stem = tok[:-3]
        out += [stem + "e", stem] if cvc else [stem, stem + "e"]
    return out


def induce_lemma_map(
    docs: DataFrame,
    tokens_col: str = "__tokens",
    *,
    min_count: int = 1,
    max_entries: int = 500_000,
) -> dict[str, str]:
    """Corpus-driven lemma induction: {inflected: lemma} for every
    vocabulary token whose best rule-derived candidate is itself an
    attested vocabulary word (count >= ``min_count``). ``tokens_col`` is
    an array of tokens, in the TF-IDF pipeline the RegexTokenizer's
    output (lowercase, split on \\W+), so induced keys are the tokens the
    lemma stage will see.

    One distributed aggregation (token→count, one shuffle on token)
    collected to the driver, where the reverse rules run over the
    distinct tokens; at most ``max_entries`` entries, in token order."""
    counts = dict(
        docs.select(F.explode(tokens_col).alias("tok"))
        .filter(F.col("tok").rlike("^[a-z]{2,}$"))
        .groupBy("tok")
        .count()
        .collect()
    )
    out: dict[str, str] = {}
    for tok in sorted(counts):
        for cand in candidate_lemmas(tok):
            if len(cand) >= 2 and cand != tok and (
                counts.get(cand, 0) >= min_count
            ):
                out[tok] = cand
                break
        if len(out) == max_entries:
            break
    return out
