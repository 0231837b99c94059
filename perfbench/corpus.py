"""Seeded input generators for the benchmark.

``clean_corpora(seed, n_docs)`` builds one abstract corpus (per doc: a
language slot and a sequence of Zipf-ranked tokens, plus planted exact
duplicates, one-token near duplicates, eval-table overlaps, PII,
repetitive junk and numeric dumps) and renders it twice:

* ``ascii``: every slot uses an ASCII lexicon (en/es/de/fr/it/pt, accents
  folded), so every Arrow batch takes the ASCII fast paths;
* ``mixed``: the same docs, token for token, rendered with accented Latin,
  Cyrillic and Greek lexicons, typographic dashes in every doc, some docs
  in NFD and some as UTF-8-read-as-cp1252 mojibake.

Both renderings share doc count, token counts, Zipf ranks and plants, so
the two ``clean_*`` workloads differ only in the text's script.
``lineitem_orderkeys`` gives a TPC-H-shaped ``l_orderkey`` column for the
sketch workload.
"""

from __future__ import annotations

import statistics
import unicodedata
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

VOCAB = 4000  # content words per language slot
ZIPF_S = 1.1
STOP_FRAC = 0.35
EVAL_PASSAGES = 40
EVAL_TOKENS = 30
EVAL_SPAN = 15  # > the 13-token decontamination window

_STOP = {
    "en": "the of and to in is that it for was on with as by at from this be are not or have but".split(),
    "es": "de la que el en y los se del las un por con no una su para es al lo como pero sus le ya este".split(),
    "es_x": "de la que el en y los se del las un por con no una su para es más también está así él pero".split(),
    "de": "der die und in den von zu das mit sich des auf fur ist im dem nicht ein eine als auch es an".split(),
    "de_x": "der die und in den von zu das mit sich des auf für ist im dem nicht über können würde müssen".split(),
    "fr": "de la le et les des en un du une que est pour qui dans par plus pas au sur se ne".split(),
    "fr_x": "de la le et les des en un du une que est pour qui dans par plus à été être déjà où très".split(),
    "it": "di e il la che in a per un del non sono una con i le si da come ma".split(),
    "pt": "de a o que e do da em um para com nao uma os no se na por mais as".split(),
    "ru": "и в не на я что он с как а то все она так его но да ты к у же вы за бы по".split(),
    "el": "και το να του η με την τα δεν που είναι για από στο ο οι σε αυτό τον ως".split(),
}
_LATIN_C = list("bcdfghjklmnprstvz")
_LATIN_V = list("aeiou")
# per-rendering (consonants, vowels, stopword key); accented vowels are
# drawn with a fixed probability so Latin slots carry some non-ASCII
_ALPHA = {
    "en": (_LATIN_C, _LATIN_V, "en"),
    "es": (_LATIN_C, _LATIN_V, "es"),
    "de": (_LATIN_C, _LATIN_V, "de"),
    "fr": (_LATIN_C, _LATIN_V, "fr"),
    "it": (_LATIN_C, _LATIN_V, "it"),
    "pt": (_LATIN_C, _LATIN_V, "pt"),
    "es_x": (_LATIN_C + ["ñ"], _LATIN_V + list("áéíóú"), "es_x"),
    "de_x": (_LATIN_C + ["ß"], _LATIN_V + list("äöü"), "de_x"),
    "fr_x": (_LATIN_C + ["ç"], _LATIN_V + list("éèêàô"), "fr_x"),
    "ru": (list("бвгдклмнпрстфхцчш"), list("аеиоуыя"), "ru"),
    "el": (list("βγδκλμνπρστφχ"), list("αεηιουω"), "el"),
}
ASCII_SLOTS = ["en", "es", "de", "fr", "it", "pt"]
MIXED_SLOTS = ["en", "es_x", "de_x", "fr_x", "ru", "el"]
SLOT_P = np.array([0.30, 0.15, 0.15, 0.15, 0.125, 0.125])
NUMERIC = -1  # slot of a numeric dump: space-separated integers, no words
# lang_filter's allowlist: every language the trigram profiles know, so a
# prose doc mistaken for a neighbouring language is kept and only text no
# profile places ("und": the numeric dumps) is dropped
ALLOWED_LANGS = ["ar", "cs", "de", "el", "en", "es", "fr", "he", "it", "nl", "pl", "pt", "ru", "sv", "tr", "vi"]

_EMAIL_USERS = ["ana", "j.smith", "li.wei", "omar", "k.ng", "p.rossi"]
_EMAIL_HOSTS = ["example.org", "mail.example.com", "corp.example.net"]


@dataclass
class Plants:
    """Ground truth: ids of the docs each stage is known to drop, and the
    PII strings redaction must remove."""

    exact_dup_ids: list = field(default_factory=list)
    near_dup_ids: list = field(default_factory=list)
    eval_overlap_ids: list = field(default_factory=list)
    junk_ids: list = field(default_factory=list)
    numeric_ids: list = field(default_factory=list)  # dropped by lang_filter
    pii_strings: list = field(default_factory=list)
    # the PII docs, id -> their PII strings; every one reaches redact_pii
    pii_by_id: dict = field(default_factory=dict)


@dataclass
class CleanCorpora:
    ascii: pd.DataFrame  # url, text
    mixed: pd.DataFrame
    eval_ascii: pd.DataFrame  # eval_id, text
    eval_mixed: pd.DataFrame
    plants: Plants


def _lexicon(key: str, seed: int, accent_p: float) -> list[str]:
    """VOCAB distinct synthetic content words, deterministic per (key, seed)."""
    cons, vows, _ = _ALPHA[key]
    plain_v = [v for v in vows if v.isascii()] or vows
    rng = np.random.default_rng([seed, 7, sum(map(ord, key))])
    words: dict[str, None] = {}
    while len(words) < VOCAB:
        n = 2 * VOCAB
        n_syl = rng.integers(1, 5, size=n)
        c = rng.integers(len(cons), size=(n, 4))
        acc = rng.random((n, 4)) < accent_p
        v = np.where(acc, rng.integers(len(vows), size=(n, 4)), rng.integers(len(plain_v), size=(n, 4)))
        for i in range(n):
            w = "".join(
                cons[c[i, j]] + (vows[v[i, j]] if acc[i, j] else plain_v[v[i, j]]) for j in range(n_syl[i])
            )
            words.setdefault(w)
    return list(words)[:VOCAB]


_ZIPF_CDF: dict[int, np.ndarray] = {}


def _zipf_ranks(rng, n: int, size: int) -> np.ndarray:
    cdf = _ZIPF_CDF.get(size)
    if cdf is None:
        cdf = np.cumsum(1.0 / np.arange(1, size + 1) ** ZIPF_S)
        cdf = _ZIPF_CDF[size] = cdf / cdf[-1]
    return np.minimum(np.searchsorted(cdf, rng.random(n)), size - 1)


def _mojibake(s: str) -> str:
    """UTF-8 bytes read back as cp1252 (identity for its 5 unmapped bytes)."""
    out = []
    for b in s.encode("utf-8"):
        try:
            out.append(bytes([b]).decode("cp1252"))
        except UnicodeDecodeError:
            out.append(chr(b))
    return "".join(out)


class _Renderer:
    def __init__(self, slots: list[str], seed: int):
        self.slots = slots
        self.lex = {k: _lexicon(k, seed, 0.0 if k in ASCII_SLOTS else 0.4) for k in slots}
        self.mixed = slots == MIXED_SLOTS

    def word(self, slot: int, tok: int) -> str:
        """tok >= 0: content rank; tok < 0: stopword -tok-1."""
        key = self.slots[slot]
        if tok < 0:
            stops = _STOP[_ALPHA[key][2]]
            return stops[(-tok - 1) % len(stops)]
        return self.lex[key][tok]

    def text(self, slot: int, toks: np.ndarray, extra: dict) -> str:
        numeric = slot == NUMERIC
        words = [str(int(t)) if numeric else self.word(slot, int(t)) for t in toks]
        for pos, s in extra.items():  # literal tokens (PII) at positions
            words[pos] = s
        # a leading dash (typographic in the mixed rendering, so every
        # mixed doc holds non-ASCII); a period follows every prose
        # content token whose rank is 3 mod 10, so punctuation travels with the
        # tokens when a span is spliced; a newline every 48 tokens
        out = ["—" if self.mixed else "-", " "]
        for i, (t, w) in enumerate(zip(toks, words)):
            out.append(w + "." if not numeric and t >= 0 and t % 10 == 3 else w)
            out.append("\n" if i % 48 == 47 else " ")
        return "".join(out).rstrip()


def _slot_counts(n: int) -> np.ndarray:
    """Docs per language slot in SLOT_P proportions (largest remainders)."""
    exact = SLOT_P * n
    counts = np.floor(exact).astype(int)
    counts[np.argsort(counts - exact)[: n - counts.sum()]] += 1
    return counts


def _stratified_slots(rng, n: int) -> np.ndarray:
    return rng.permutation(np.repeat(np.arange(len(SLOT_P)), _slot_counts(n)))


def _slots_and_lengths(n: int) -> tuple[np.ndarray, np.ndarray]:
    """Token counts at the quantiles of a lognormal (median 160, clipped to
    100-400), each slot's docs spread evenly over them: small corpora keep
    the same length distribution and script mix on every seed."""
    ppf = statistics.NormalDist(np.log(160), 0.3).inv_cdf
    lens = np.clip([np.exp(ppf((i + 0.5) / n)) for i in range(n)], 100, 400).astype(int)
    counts = _slot_counts(n)
    slot = np.repeat(np.arange(len(SLOT_P)), counts)
    rank = np.concatenate([(np.arange(c) + 0.5) / c for c in counts])
    return slot[np.argsort(rank, kind="stable")], lens


def _doc_tokens(rng, n_tok: int) -> np.ndarray:
    stop = rng.random(n_tok) < STOP_FRAC
    toks = _zipf_ranks(rng, n_tok, VOCAB)
    toks[stop] = -1 - _zipf_ranks(rng, int(stop.sum()), 20)
    return toks


def clean_corpora(seed: int, n_docs: int) -> CleanCorpora:
    rng = np.random.default_rng([seed, 1])
    n_exact = max(1, round(0.06 * n_docs))
    n_near = max(1, round(0.05 * n_docs))
    n_eval = max(1, round(0.04 * n_docs))
    n_junk = max(1, round(0.03 * n_docs))
    n_pii = max(1, round(0.08 * n_docs))
    n_numeric = max(1, round(0.03 * n_docs))
    n_base = n_docs - n_exact - n_near - n_junk - n_numeric

    slots, lens = _slots_and_lengths(n_base)
    docs = [(int(s), _doc_tokens(rng, int(n))) for s, n in zip(slots, lens)]
    extras: list[dict] = [{} for _ in docs]

    # eval passages: abstract tokens per slot, rendered per corpus
    ev_slots = _stratified_slots(rng, EVAL_PASSAGES)
    ev_toks = [_doc_tokens(rng, EVAL_TOKENS) for _ in range(EVAL_PASSAGES)]

    # disjoint plant sources among base docs
    order = rng.permutation(n_base)
    cut = np.cumsum([n_exact, n_near, n_eval, n_pii])
    exact_src, near_src, eval_dst, pii_dst = np.split(order[: cut[-1]], cut[:-1])

    plants = Plants()
    for d in eval_dst:  # splice a 15-token eval span into the doc
        p = int(rng.integers(EVAL_PASSAGES))
        s0 = int(rng.integers(0, EVAL_TOKENS - EVAL_SPAN + 1))
        toks = docs[d][1]
        at = int(rng.integers(0, len(toks) - EVAL_SPAN))
        toks[at : at + EVAL_SPAN] = ev_toks[p][s0 : s0 + EVAL_SPAN]
        docs[d] = (int(ev_slots[p]), toks)  # rendered in the passage's language
    for i, d in enumerate(pii_dst):
        email = f"{_EMAIL_USERS[i % 6]}{i}@{_EMAIL_HOSTS[i % 3]}"
        ip = f"10.{i % 250}.{(7 * i) % 250}.{1 + i % 200}"
        phone = f"555-{100 + i % 900:03d}-{1000 + (37 * i) % 9000:04d}"
        n = len(docs[d][1])
        pos = rng.choice(n, size=3, replace=False)
        extras[d] = {int(pos[0]): email, int(pos[1]): ip, int(pos[2]): phone}
        plants.pii_strings += [email, ip, phone]

    # each entry: (slot, tokens, extra, variant); variant in {"", "nfd", "moji"}
    rows = [(s, t, extras[i], "") for i, (s, t) in enumerate(docs)]
    variants = rng.random(n_base)
    for i in range(n_base):  # 10% of docs NFD, 5% mojibake (mixed only)
        if variants[i] < 0.10:
            rows[i] = rows[i][:3] + ("nfd",)
        elif variants[i] < 0.15:
            rows[i] = rows[i][:3] + ("moji",)
    kinds = ["base"] * n_base
    for j, d in enumerate(exact_src):  # refetches: byte copy, NFD or mojibake
        s, t, x, _ = rows[d]
        rows.append((s, t.copy(), x, ("", "nfd", "moji")[j % 3]))
        kinds.append("exact")
    for d in near_src:  # one content token swapped
        s, t, x, v = rows[d]
        t2 = t.copy()
        pos = [k for k in range(len(t2)) if t2[k] >= 0 and k not in x]
        k = pos[int(rng.integers(len(pos)))]
        t2[k] = (t2[k] + 1 + int(rng.integers(VOCAB - 1))) % VOCAB
        rows.append((s, t2, x, v))
        kinds.append("near")
    junk_words = rng.choice(np.arange(200, VOCAB), size=n_junk, replace=False)
    for w in junk_words:  # one word repeated: dup_word_ratio ~ 1
        rows.append((int(rng.integers(len(SLOT_P))), np.full(80, w), {}, ""))
        kinds.append("junk")
    for n in rng.integers(100, 250, size=n_numeric):  # readings, ids, prices
        rows.append((NUMERIC, rng.integers(0, 100_000, size=n), {}, ""))
        kinds.append("numeric")

    # shuffle so plants spread over every batch; ids are url strings
    perm = rng.permutation(len(rows))
    urls = [f"https://site{int(k) % 97}.example/p/{int(k):07d}" for k in rng.choice(10**7, size=len(rows), replace=False)]
    ids_by_row = {int(r): urls[i] for i, r in enumerate(perm)}
    for r, kind in enumerate(kinds):
        if kind == "exact":
            plants.exact_dup_ids.append(ids_by_row[r])
        elif kind == "near":
            plants.near_dup_ids.append(ids_by_row[r])
        elif kind == "junk":
            plants.junk_ids.append(ids_by_row[r])
        elif kind == "numeric":
            plants.numeric_ids.append(ids_by_row[r])
    plants.eval_overlap_ids = [ids_by_row[int(d)] for d in eval_dst]
    plants.pii_by_id = {ids_by_row[int(d)]: list(extras[int(d)].values()) for d in pii_dst}

    out = {}
    for name, slot_keys in (("ascii", ASCII_SLOTS), ("mixed", MIXED_SLOTS)):
        r = _Renderer(slot_keys, seed)
        texts = []
        for s, t, x, v in (rows[int(i)] for i in perm):
            txt = r.text(s, t, x)
            if r.mixed and v == "nfd":
                txt = unicodedata.normalize("NFD", txt)
            elif r.mixed and v == "moji" and slot_keys[s] not in ("ru", "el"):
                txt = _mojibake(txt)
            texts.append(txt)
        ev = [r.text(int(s), t, {}) for s, t in zip(ev_slots, ev_toks)]
        out[name] = (
            pd.DataFrame({"url": [urls[i] for i in range(len(perm))], "text": texts}),
            pd.DataFrame({"eval_id": np.arange(EVAL_PASSAGES), "text": ev}),
        )
    return CleanCorpora(out["ascii"][0], out["mixed"][0], out["ascii"][1], out["mixed"][1], plants)


def non_ascii_share(texts) -> float:
    total = sum(len(t) for t in texts)
    return sum(sum(1 for c in t if ord(c) > 127) for t in texts) / max(total, 1)


def write_corpus(df: pd.DataFrame, path: str, row_group_rows: int) -> list[bool]:
    """Write parquet; return per-row-group 'contains non-ASCII text'."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path, row_group_size=row_group_rows)
    f = pq.ParquetFile(path)
    return [
        any(not t.isascii() for t in f.read_row_group(i, columns=["text"]).column(0).to_pylist())
        for i in range(f.num_row_groups)
    ]


def lineitem_orderkeys(seed: int, n_orders: int) -> pd.DataFrame:
    """TPC-H-shaped l_orderkey: sparse order keys, 1-7 lines per order."""
    rng = np.random.default_rng([seed, 2])
    keys = np.arange(1, n_orders + 1, dtype=np.int64)
    keys = (keys // 8) * 32 + (keys % 8)  # TPC-H's sparse key ranges
    lines = rng.integers(1, 8, size=n_orders)
    ok = np.repeat(keys, lines)
    return pd.DataFrame({"l_orderkey": ok, "l_linenumber": np.concatenate([np.arange(1, n + 1) for n in lines]).astype(np.int32)})


WEB_LANGS = ["en", "zh", "es", "de", "fr", "ja", "ru", "pt", "it", "nl"]


def web_pages(seed: int, n_rows: int) -> pd.DataFrame:
    """Crawl log rows (url, warc_ts, lang): Zipfian hosts and languages,
    refetches (about a third of rows repeat an earlier url), 14 days."""
    rng = np.random.default_rng([seed, 5])
    n_urls = int(n_rows * 0.7)
    host = _zipf_ranks(rng, n_urls, 5000)
    url_lang = np.array(WEB_LANGS)[_zipf_ranks(rng, n_urls, len(WEB_LANGS))]
    urls = np.array([f"https://h{h}.example/{lang}/{i:x}" for i, (h, lang) in enumerate(zip(host, url_lang))], dtype=object)
    pick = np.concatenate([np.arange(n_urls), rng.integers(0, n_urls, size=n_rows - n_urls)])
    rng.shuffle(pick)
    secs = rng.integers(0, 14 * 86400, size=n_rows)
    ts = (np.datetime64("2024-01-01T00:00:00", "us") + secs.astype("timedelta64[s]")).astype("datetime64[us]")
    return pd.DataFrame({"url": urls[pick], "warc_ts": ts, "lang": url_lang[pick]})
