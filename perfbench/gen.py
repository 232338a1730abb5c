"""Seeded input generators for the benchmark.

Everything here is plain Python (no Spark), so the open-loop stream
generator can run as its own process. The same seed always gives the
same records.

- ``reviews``: Yelp source-shape review records (``stars``, string
  ``date``, ...) with a defect mix covering every gauntlet guard, a
  tail of documents over 5,000 characters, a language mix and a
  Zipf-skewed ``business_id``.
- ``stream_plan``: the review stream's records in send order, with a
  duplicate share and a late / out-of-order share.
- ``documents`` / ``lineitem`` / ``orders``: tables of the sf0.01
  fixtures' shape (column names, types and value ranges of the seed-42
  ``documents``, ``lineitem`` and ``orders`` tables), for the
  ``queries()`` entries.
"""

from __future__ import annotations

import bisect
import datetime as dt
import itertools
import json
import random
from collections import Counter

# Where the generated shares come from. Taken from the repository:
# - the vocabulary and the language shares are those of the seed-42
#   `documents` fixture (sf0.1: 5,000 texts, word salad over exactly
#   these words, `lang` shares en 0.4118, de 0.1404, fr 0.1484,
#   es 0.1488, zh 0.1506);
# - a clean text's length is uniform over the fixture's `n_chars` range
#   (44-577 at sf0.1, quartiles 176 / 295 / 418);
# - the defect classes, their shares and their texts are those of the
#   package's synthetic review table (`sources.reviews.synthetic_reviews`,
#   built from the FIXTURES.md row classes): six text classes of 1/23
#   each and four rating classes of 1/19 each, dealt independently, and
#   null useful / funny / cool in 1/4, 1/5 and 1/6 of rows.
# Unverified assumptions, with no source: the non-English word pools and
# their 60% share of a text's words, the Zipf exponent and business
# count, and the stream's duplicate, out-of-order and late shares.
DOC_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DOC_LANGS = ["en", "de", "fr", "es", "zh"]
DOC_LANG_WEIGHTS = [0.4118, 0.1404, 0.1484, 0.1488, 0.1506]
DOC_CHARS = (44, 577)

# Review-language word pools, mixed into the fixture word salad so the
# language identifier sees each fixture language (assumption: the
# fixture texts themselves are English words whatever their `lang`).
LANG_WORDS = {
    "en": (
        "the and is of to in that it for was with this food service great "
        "place staff friendly we will come back again really good dinner"
    ).split(),
    "es": (
        "el la los las de que y en un una es no por con comida servicio "
        "muy bueno lugar volveremos mesa cena amigos precio"
    ).split(),
    "fr": (
        "le la les de et un une est que pour dans ce avec nourriture "
        "service tres bon endroit reviendrons table diner amis prix"
    ).split(),
    "de": (
        "der die das und ist nicht ein eine zu mit von den essen service "
        "sehr gut ort wiederkommen tisch abendessen freunde preis"
    ).split(),
    "zh": list("的是在有这个我们餐厅服务很好吃菜价格朋友再来环境"),
}
POOL_SHARE = 0.6  # assumption

# synthetic_reviews: `doc_id % 23` picks the text class, `doc_id % 19`
# the rating class; `_slots` deals both with the same shares
TEXT_CLASSES = ["missing_text_null", "missing_text_empty", "too_short", "spam", "too_long", "low_alpha"]
TEXT_MOD = 23
RATING_CLASSES = ["missing_rating_null", "missing_rating_zero", "out_of_range_high", "out_of_range_low"]
RATING_MOD = 19
SPAM_SUFFIX = " buy now free discount visit www.spam-example.com"
LOW_ALPHA_TEXT = "12345 67890 99999 000 111 22"
SHORT_TEXT = "short"
N_BUSINESSES = 400  # assumption
ZIPF_S = 1.1  # assumption
DATE_FMT = "%Y-%m-%d %H:%M:%S"
ETL_DATE_START = dt.datetime(2026, 6, 1)
ETL_DATE_SPAN_S = 70 * 86400


def _zipf_cum(n: int, s: float) -> list[float]:
    cum, acc = [], 0.0
    for k in range(1, n + 1):
        acc += 1.0 / k**s
        cum.append(acc)
    return cum


_BUSINESS_CUM = _zipf_cum(N_BUSINESSES, ZIPF_S)


def _business(rng: random.Random) -> str:
    k = bisect.bisect_left(_BUSINESS_CUM, rng.random() * _BUSINESS_CUM[-1])
    return f"b{k:04d}"


def _text(rng: random.Random, lang: str, n_chars: int) -> str:
    pool = LANG_WORDS[lang]
    sep = "" if lang == "zh" else " "
    words: list[str] = []
    size = 0
    while size < n_chars:
        w = rng.choice(pool) if rng.random() < POOL_SHARE else rng.choice(DOC_VOCAB)
        words.append(w)
        size += len(w) + 1
    return sep.join(words)[:n_chars].strip() or pool[0]


def _slots(rng: random.Random, n: int) -> list[tuple[int, int, str]]:
    """Per review index: its text class slot (0..22), rating class slot
    (0..18) and language. Each is dealt from a seeded permutation of the
    indexes, so every share holds exactly (up to rounding) whatever the
    seed, as ``doc_id % 23`` and ``doc_id % 19`` do in synthetic_reviews:
    seeds vary the content, not the mix."""
    t, r, g = (rng.sample(range(n), n) for _ in range(3))
    cum = list(itertools.accumulate(DOC_LANG_WEIGHTS))
    last = len(DOC_LANGS) - 1
    return [
        (t[i] % TEXT_MOD, r[i] % RATING_MOD, DOC_LANGS[min(last, bisect.bisect(cum, (g[i] + 0.5) / n))])
        for i in range(n)
    ]


def review(
    rng: random.Random, review_id: str, date: dt.datetime, slot: tuple[int, int, str]
) -> tuple[dict, list[str], str]:
    """One source-shape review plus its defect classes and language;
    ``slot`` comes from ``_slots``."""
    k, m, lang = slot
    text: str | None = _text(rng, lang, rng.randint(*DOC_CHARS))
    stars: float | None = float(rng.randint(1, 5))
    defects = []
    if k < len(TEXT_CLASSES):
        defects.append(TEXT_CLASSES[k])
        text = {
            "missing_text_null": None,
            "missing_text_empty": "",
            "too_short": SHORT_TEXT,
            "spam": f"{text}{SPAM_SUFFIX}",
            "too_long": f"{text[:100]} " * 120,
            "low_alpha": LOW_ALPHA_TEXT,
        }[TEXT_CLASSES[k]]
    if m < len(RATING_CLASSES):
        defects.append(RATING_CLASSES[m])
        stars = [None, 0.0, 6.0, 0.5][m]
    rec = {
        "review_id": review_id,
        "business_id": _business(rng),
        "user_id": f"u{rng.randint(0, 4999):05d}",
        "stars": stars,
        "text": text,
        "date": date.strftime(DATE_FMT),
        "useful": None if rng.randrange(4) == 0 else rng.randint(0, 30),
        "funny": None if rng.randrange(5) == 0 else rng.randint(0, 10),
        "cool": None if rng.randrange(6) == 0 else rng.randint(0, 10),
    }
    return rec, defects or ["clean"], lang


def reviews(seed: int, n: int) -> tuple[list[dict], dict]:
    """``n`` distinct reviews for the batch workload, plus the measured
    share of each generated property."""
    rng = random.Random(seed)
    out, defects, langs = [], Counter(), Counter()
    for i, slot in enumerate(_slots(rng, n)):
        date = ETL_DATE_START + dt.timedelta(seconds=rng.randrange(ETL_DATE_SPAN_S))
        rec, classes, lang = review(rng, f"r{seed % 1000:03d}-{i:07d}", date, slot)
        out.append(rec)
        defects.update(classes)
        langs[lang] += 1
    return out, profile(out, defects, langs)


def profile(recs: list[dict], defects: Counter, langs: Counter) -> dict:
    n = len(recs)
    biz = Counter(r["business_id"] for r in recs)
    top = biz.most_common(10)
    return {
        "n": n,
        "defect_share": {k: round(v / n, 4) for k, v in sorted(defects.items())},
        "language_share": {k: round(v / n, 4) for k, v in sorted(langs.items())},
        "over_5000_chars_share": round(
            sum(1 for r in recs if r["text"] and len(r["text"]) > 5000) / n, 4
        ),
        "business_ids": len(biz),
        "top10_business_share": round(sum(c for _, c in top) / n, 4),
    }


# ---- the open-loop review stream -------------------------------------

STREAM_EVENT_START = dt.datetime(2026, 8, 12, 0, 0, 0)
STREAM_EVENT_STEP_S = 30  # event time advances 30 s per review
# assumptions: the reference producer re-sends and reorders reviews
# (FIXTURES.md row classes 10 and 13) but states no shares
DUPLICATE_SHARE = 0.05  # re-sends of a recent review (same id and date)
OUT_OF_ORDER_SHARE = 0.05  # event time up to 1 h behind (inside the 2 h dedup watermark)
LATE_SHARE = 0.02  # event time 30 days behind: dropped by the watermark
LATE_AFTER_SEQ = 300  # late rows only after the first micro-batch has set a watermark


def stream_plan(seed: int, n: int) -> tuple[list[dict], dict]:
    """``n`` records in send order. Each carries ``seq`` (its send slot,
    from which its due time follows) and ``kind`` in {"new", "dup",
    "late", "out_of_order"}; both are stripped before writing."""
    rng = random.Random(seed * 7919 + 1)
    out: list[dict] = []
    kinds, defects, langs = Counter(), Counter(), Counter()
    originals: list[dict] = []
    slots = _slots(rng, n)
    for seq in range(n):
        u = rng.random()
        if originals and u < DUPLICATE_SHARE:
            src = rng.choice(originals[-50:])
            rec = dict(src, seq=seq, kind="dup")
        else:
            date = STREAM_EVENT_START + dt.timedelta(seconds=seq * STREAM_EVENT_STEP_S)
            kind = "new"
            if seq >= LATE_AFTER_SEQ and u < DUPLICATE_SHARE + LATE_SHARE:
                date -= dt.timedelta(days=30)
                kind = "late"
            elif u < DUPLICATE_SHARE + LATE_SHARE + OUT_OF_ORDER_SHARE:
                date -= dt.timedelta(seconds=rng.randint(60, 3600))
                kind = "out_of_order"
            rec, classes, lang = review(rng, f"s{seed % 1000:03d}-{seq:07d}", date, slots[seq])
            defects.update(classes)
            langs[lang] += 1
            rec.update(seq=seq, kind=kind)
            originals.append(rec)
        kinds[rec["kind"]] += 1
        out.append(rec)
    prof = profile(originals, defects, langs)
    prof["kind_share"] = {k: round(v / n, 4) for k, v in sorted(kinds.items())}
    return out, prof


def write_jsonl(path: str, recs: list[dict]) -> None:
    with open(path, "w", encoding="utf-8") as f:
        for r in recs:
            f.write(json.dumps(r, ensure_ascii=False))
            f.write("\n")


# ---- fixture-shaped tables for the queries() entries -----------------

def documents(seed: int, n: int = 500) -> dict[str, list]:
    rng = random.Random(seed * 31 + 7)
    cols: dict[str, list] = {"doc_id": [], "text": [], "lang": [], "source": [], "n_chars": []}
    for i in range(n):
        words, size, target = [], 0, rng.randint(*DOC_CHARS)
        while size < target:
            w = rng.choice(DOC_VOCAB)
            words.append(w)
            size += len(w) + 1
        text = " ".join(words)
        cols["doc_id"].append(i)
        cols["text"].append(text)
        cols["lang"].append(rng.choices(DOC_LANGS, DOC_LANG_WEIGHTS)[0])
        cols["source"].append(f"src{rng.randrange(20)}")
        cols["n_chars"].append(len(text))
    return cols


def orders(seed: int, n: int, n_customers: int) -> dict[str, list]:
    rng = random.Random(seed * 31 + 11)
    day0 = dt.datetime(1995, 1, 1)
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    return {
        "o_orderkey": list(range(n)),
        "o_custkey": [rng.randrange(n_customers) for _ in range(n)],
        "o_orderstatus": [rng.choice("FOP") for _ in range(n)],
        "o_totalprice": [round(rng.uniform(900.0, 500000.0), 2) for _ in range(n)],
        "o_orderdate": [day0 + dt.timedelta(days=rng.randrange(2404)) for _ in range(n)],
        "o_orderpriority": [rng.choice(prios) for _ in range(n)],
    }


def lineitem(seed: int, n: int, n_orders: int, n_parts: int, n_suppliers: int) -> dict[str, list]:
    rng = random.Random(seed * 31 + 13)
    day0 = dt.datetime(1995, 1, 2)
    cols: dict[str, list] = {
        k: []
        for k in (
            "l_orderkey l_partkey l_suppkey l_linenumber l_quantity l_extendedprice "
            "l_discount l_tax l_returnflag l_linestatus l_shipdate"
        ).split()
    }
    for _ in range(n):
        q = float(rng.randint(1, 50))
        cols["l_orderkey"].append(rng.randrange(n_orders))
        cols["l_partkey"].append(rng.randrange(n_parts))
        cols["l_suppkey"].append(rng.randrange(n_suppliers))
        cols["l_linenumber"].append(rng.randint(1, 7))
        cols["l_quantity"].append(q)
        cols["l_extendedprice"].append(round(q * rng.uniform(900.0, 2100.0), 2))
        cols["l_discount"].append(rng.randint(0, 10) / 100)
        cols["l_tax"].append(rng.randint(0, 8) / 100)
        cols["l_returnflag"].append(rng.choice("ANR"))
        cols["l_linestatus"].append(rng.choice("OF"))
        cols["l_shipdate"].append(day0 + dt.timedelta(days=rng.randrange(2498)))
    return cols
