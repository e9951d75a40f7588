"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments, runs in
the benchmark's own process (no Spark job), and returns rows ready to be
written to parquet with pyarrow, so generation is never part of a timed
region and never depends on the engine under test.

* `grammar_pages` — pages whose sentences follow the fact grammar the
  engine's `GrammarExtractor` inverts ("X is the ceo of Y since D.", ...),
  over a WIDE vocabulary: tens of thousands of person names and thousands of
  organisations, built from syllables so that distinct names rarely share a
  token. A quarter of the mentions are near-duplicate surface variants
  (middle initial, legal suffix) whose hash embeddings sit above the entity
  threshold, so resolution has real merges to find.
* `web_docs` — web-text documents over a Zipf vocabulary whose top ranks are
  English stopwords (the language filter keeps a document only when English
  stopwords dominate). A share of documents come in near-duplicate families
  of four (a base text plus three lightly edited copies), a few are exact
  duplicates up to case and whitespace, and a few are French or too short,
  so every stage of corpus preparation drops something.
"""

from __future__ import annotations

import html as _htmllib
from datetime import datetime, timedelta

import numpy as np

_SYL = [
    "ka", "lo", "mi", "ra", "te", "vu", "zo", "ne", "pa", "si", "do", "ru",
    "fe", "ga", "hi", "jo", "ku", "le", "mo", "na", "po", "ri", "sa", "ta",
    "vi", "wa", "xe", "yo", "bri", "dra", "fli", "gro", "kla", "pre", "sto",
    "tri", "zan", "mel", "dor", "vin",
]
_ORG_SUFFIX = ["corp", "labs", "industries", "systems", "dynamics",
               "holdings", "networks", "media", "energy", "logistics"]
_ROLES = ["ceo", "cto", "founder", "president", "director"]
_MIDDLE = ["p", "q", "r"]
_BASE = datetime(2024, 1, 1)

STOP_EN = ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"]
STOP_FR = ["le", "la", "les", "de", "des", "et", "un", "une", "est", "pour"]

# grammar pages
VARIANT_SHARE = 0.25  # mentions written as a near-duplicate surface variant
HOT_SHARE = 0.2  # pages on the one hot domain
NON_ISO_DATE_SHARE = 0.2
# web documents
VOCAB_SIZE = 20_000
ZIPF_S = 1.05
FAMILY_SHARE = 0.3  # documents inside a near-duplicate family
FAMILY_SIZE = 4
EDIT_SHARE = 0.02  # tokens replaced in each family copy
EXACT_DUP_SHARE = 0.03
FRENCH_SHARE = 0.03
SHORT_SHARE = 0.03
DOC_TOKENS = (60, 140)


def _word(rng: np.random.Generator, n_syl: int) -> str:
    return "".join(_SYL[i] for i in rng.integers(len(_SYL), size=n_syl))


def _unique_words(rng, count: int, n_syl: int, taken: set) -> list[str]:
    out = []
    while len(out) < count:
        w = _word(rng, n_syl)
        if w not in taken:
            taken.add(w)
            out.append(w)
    return out


def grammar_vocab(seed: int, n_persons: int, n_orgs: int):
    """(persons, orgs): distinct two-token names drawn from the seed."""
    rng = np.random.Generator(np.random.PCG64([seed, 0]))
    taken: set = set()
    firsts = _unique_words(rng, max(8, int(n_persons ** 0.5) * 2), 2, taken)
    lasts = _unique_words(rng, max(8, int(n_persons ** 0.5) * 2), 3, taken)
    persons: list[str] = []
    seen: set = set()
    while len(persons) < n_persons:
        name = f"{firsts[rng.integers(len(firsts))]} {lasts[rng.integers(len(lasts))]}"
        if name not in seen:
            seen.add(name)
            persons.append(name)
    heads = _unique_words(rng, n_orgs, 3, taken)
    orgs = [f"{h} {_ORG_SUFFIX[rng.integers(len(_ORG_SUFFIX))]}" for h in heads]
    return persons, orgs


def _date_str(rng: np.random.Generator) -> str:
    d = _BASE + timedelta(days=int(rng.integers(0, 700)))
    r = rng.random()
    if r < NON_ISO_DATE_SHARE:  # non-ISO form the Catalyst fast parse handles
        return d.strftime("%B") + f" {d.day} {d.year}"
    return d.strftime("%Y-%m-%d")


def _html(text: str, title: str) -> bytes:
    # same envelope as the engine's fixture pages: distill(html) == text
    return (
        f"<html><head><title>{_htmllib.escape(title, quote=False)}</title></head>"
        f"<body><nav>boilerplate nav</nav><main>{_htmllib.escape(text, quote=False)}</main>"
        f"<footer>boilerplate footer</footer></body></html>"
    ).encode("utf-8")


def grammar_pages(
    seed: int,
    n_pages: int,
    persons: list[str],
    orgs: list[str],
    first_id: int = 0,
) -> dict[str, list]:
    """Column dict (url, warc_ts, html, text, lang) of `n_pages` pages with
    1-5 grammar facts each; page ids start at `first_id`."""
    rng = np.random.Generator(np.random.PCG64([seed, 1, first_id]))
    cols: dict[str, list] = {k: [] for k in ("url", "warc_ts", "html", "text", "lang")}

    def person() -> str:
        name = persons[rng.integers(len(persons))]
        if rng.random() < VARIANT_SHARE:
            first, last = name.split(" ")
            name = f"{first} {_MIDDLE[rng.integers(len(_MIDDLE))]} {last}"
        return name.title()

    def org() -> str:
        name = orgs[rng.integers(len(orgs))]
        if rng.random() < VARIANT_SHARE:
            name = f"{name} inc"
        return name.title()

    for pid in range(first_id, first_id + n_pages):
        facts = []
        for _ in range(int(rng.integers(1, 6))):
            kind = rng.random()
            role = _ROLES[rng.integers(len(_ROLES))]
            if kind < 0.35:
                facts.append(f"{person()} is the {role} of {org()} since {_date_str(rng)}.")
            elif kind < 0.45:
                facts.append(f"{person()} is no longer the {role} of {org()} since {_date_str(rng)}.")
            elif kind < 0.8:
                facts.append(f"{person()} works at {org()} since {_date_str(rng)}.")
            elif kind < 0.9:
                facts.append(f"{person()} no longer works at {org()} since {_date_str(rng)}.")
            else:
                facts.append(f"{org()} acquired {org()} on {_date_str(rng)}.")
        text = " ".join(facts)
        hot = rng.random() < HOT_SHARE
        domain = "hot.example.com" if hot else f"site{int(rng.integers(0, 1000)):04d}.example.org"
        url = f"https://{domain}/w/{pid}"
        cols["url"].append(url)
        cols["warc_ts"].append(
            _BASE + timedelta(days=int(rng.integers(0, 365)),
                              seconds=int(rng.integers(0, 86400)))
        )
        cols["html"].append(_html(text, url))
        cols["text"].append(text)
        cols["lang"].append("en")
    return cols


def zipf_vocab(seed: int, size: int) -> list[str]:
    """Vocabulary in rank order: English stopwords first, then generated
    content words."""
    rng = np.random.Generator(np.random.PCG64([seed, 2]))
    taken = set(STOP_EN) | set(STOP_FR)
    return STOP_EN + _unique_words(rng, size - len(STOP_EN), 3, taken)


def web_docs(seed: int, n_docs: int) -> dict[str, list]:
    """Column dict (doc_id, text, lang) of `n_docs` documents.

    FAMILY_SHARE of the documents belong to families of FAMILY_SIZE: a base
    text and copies with EDIT_SHARE of their tokens replaced, which keeps
    every in-family trigram Jaccard well above 0.8. Unrelated documents
    share little beyond stopword trigrams.
    """
    rng = np.random.Generator(np.random.PCG64([seed, 3]))
    vocab = np.asarray(zipf_vocab(seed, VOCAB_SIZE))
    ranks = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64)
    p = ranks ** -ZIPF_S
    p /= p.sum()

    def body(n: int) -> list[str]:
        return list(vocab[rng.choice(VOCAB_SIZE, size=n, p=p)])

    # per-draw chance of starting a family such that FAMILY_SHARE of all
    # documents end up in one (a family draw adds FAMILY_SIZE documents)
    start_family = FAMILY_SHARE / (FAMILY_SIZE - FAMILY_SHARE * (FAMILY_SIZE - 1))
    texts: list[str] = []
    langs: list[str] = []
    while len(texts) < n_docs:
        r = rng.random()
        n = int(rng.integers(DOC_TOKENS[0], DOC_TOKENS[1] + 1))
        if r < start_family and len(texts) + FAMILY_SIZE <= n_docs:
            base = body(n)
            texts.append(" ".join(base) + ".")
            langs.append("en")
            for _ in range(FAMILY_SIZE - 1):
                toks = list(base)
                for i in rng.choice(n, size=max(1, int(n * EDIT_SHARE)), replace=False):
                    toks[i] = vocab[rng.integers(len(STOP_EN), VOCAB_SIZE)]
                texts.append(" ".join(toks) + ".")
                langs.append("en")
            continue
        r = rng.random()
        if r < EXACT_DUP_SHARE and texts:
            # same text up to case and whitespace: an exact-dedup hit
            src = texts[int(rng.integers(len(texts)))]
            texts.append("  " + src.upper().replace(" ", "   "))
        elif r < EXACT_DUP_SHARE + FRENCH_SHARE:
            toks = [STOP_FR[i] if rng.random() < 0.4 else w
                    for i, w in zip(rng.integers(len(STOP_FR), size=n), body(n))]
            toks = [w for w in toks if w not in STOP_EN]
            texts.append(" ".join(toks) + ".")
        elif r < EXACT_DUP_SHARE + FRENCH_SHARE + SHORT_SHARE:
            texts.append(" ".join(body(int(rng.integers(5, 15)))) + ".")
        else:
            texts.append(" ".join(body(n)) + ".")
        langs.append("en")
    order = rng.permutation(n_docs)
    return {
        "doc_id": [int(i) for i in range(n_docs)],
        "text": [texts[i] for i in order],
        "lang": [langs[i] for i in order],
    }
