"""Seeded input generators, one per workload.

Every generator is a pure function of (seed, size): the same seed writes
byte-identical files and a different seed writes different ones. Each
also writes `truth.json`, the ground truth the correctness check uses
(input counts, planted clone and near-duplicate pairs).

The shape of the inputs is a set of guesses, not of measurements: no
rate below comes from a published measurement of Wikipedia or of a web
corpus. Word frequencies follow Zipf's law, but the exponent 1.05 is
chosen. The lognormal length spread (sigma 0.45), the dump's quirk
rates (capitalised, upper-case, number and digit-suffixed tokens,
punctuation, doubled spaces, a '>' in 4% of docs) and the corpus mix
(6% exact clones, up to 6% near-dups, 15% junk, en/de/es/fr at
55/15/15/15%, stopword rate 0.1-0.4) were picked so that every path of
each workload sees input. They set how much work Dedup's verify and
union-find do, the survivor ratio and TextStats's filter share.

Texts are single-space separated with no leading or trailing space, so
the engine's `split(text, " ")` shingles and the checker's
`str.split(" ")` agree token for token.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 50_000
ZIPF_S = 1.05
LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))

STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "you", "that", "it", "for"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "mit", "ein", "auf",
           "den"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "se", "no"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une", "du", "est"],
}

# Each input is split into PARTS files, one per core of the engine's
# local[4] session, as a wikiextractor dump is split into wiki_NN files
# and a table into part files; a single file would be read by one task.
PARTS = 4

# Input sizes per workload.
SIZES = {
    "dump_tfidf": {"docs": 2500, "mean_tokens": 220},
    "curate_corpus": {"docs": 1000, "mean_tokens": 110},
}

def rng_for(seed, stream):
    return np.random.default_rng([seed, stream])


def vocabulary(rng, n=VOCAB):
    """n distinct lowercase words, 2-11 letters, in Zipf rank order."""
    words, seen = [], set()
    while len(words) < n:
        lens = rng.integers(2, 12, size=n)
        draws = rng.integers(0, 26, size=(n, 11))
        for ln, row in zip(lens, draws):
            w = "".join(LETTERS[row[:ln]])
            if w not in seen and w not in _ALL_STOP:
                seen.add(w)
                words.append(w)
                if len(words) == n:
                    break
    return words


_ALL_STOP = {w for ws in STOPWORDS.values() for w in ws}


def zipf_sampler(rng, n, s=ZIPF_S):
    cdf = np.cumsum(1.0 / np.arange(1, n + 1) ** s)
    cdf /= cdf[-1]
    return lambda k: np.minimum(np.searchsorted(cdf, rng.random(k)), n - 1)


def doc_lengths(rng, count, mean):
    """Lognormal lengths scaled to exactly count * mean tokens in all, so
    every seed gives a pass the same volume of text."""
    raw = rng.lognormal(np.log(mean), 0.45, count)
    lens = np.maximum(8, np.round(raw * (count * mean / raw.sum())))
    lens = lens.astype(int)
    diff = count * mean - int(lens.sum())
    lens[:abs(diff)] += int(np.sign(diff))  # |diff| is rounding, << count
    return lens


def write_parquet(path, ids, texts):
    table = pa.table({"doc_id": pa.array(ids, pa.int64()),
                      "text": pa.array(texts, pa.string())})
    pq.write_table(table, path, compression="snappy")


def write_json(path, obj):
    with open(path, "w") as f:
        json.dump(obj, f, sort_keys=True)


# --- dump_tfidf -------------------------------------------------------------

def _dump_lines(rng, words, n_docs, mean_tokens, first_id):
    """Wikiextractor lines with the reference's quirks: mixed case,
    punctuation, digits, doubled spaces, a literal '>' that truncates the
    body, and the closing `</doc>` whose '</doc' survives tag stripping."""
    zipf = zipf_sampler(rng, len(words))
    vocab = np.array(words, dtype=object)
    lines, raw_tokens = [], 0
    for i, ln in enumerate(doc_lengths(rng, n_docs, mean_tokens)):
        toks = vocab[zipf(ln)].copy()
        u = rng.random((ln, 4))
        for j in range(ln):
            t = toks[j]
            if u[j, 0] < 0.12:
                t = t.capitalize()
            elif u[j, 0] < 0.14:
                t = t.upper()
            if u[j, 1] < 0.04:
                t = str(int(u[j, 3] * 3000))
            elif u[j, 1] < 0.06:
                t = t + str(int(u[j, 3] * 10))
            if u[j, 2] < 0.07:
                t = t + ","
            elif u[j, 2] < 0.10:
                t = t + "."
            elif u[j, 2] < 0.11:
                t = "(" + t + ")"
            elif u[j, 2] < 0.115:
                t = t + " "  # a doubled space: an empty raw token
            toks[j] = t
        if rng.random() < 0.04:
            toks[int(rng.integers(1, ln))] = ">"
        body = " ".join(toks)
        raw_tokens += int(ln)
        doc_id = first_id + i
        title = words[int(rng.integers(0, 2000))].capitalize()
        lines.append(
            f'<doc id="{doc_id}" url="https://en.wikipedia.org/wiki?curid='
            f'{doc_id}" title="{title} {doc_id}">{body}</doc>')
    return lines, raw_tokens


def gen_dump_tfidf(seed, out, size=None):
    size = size or SIZES["dump_tfidf"]
    rng = rng_for(seed, 1)
    words = vocabulary(rng)
    first = int(rng.integers(10_000, 90_000))
    lines, raw = _dump_lines(rng, words, size["docs"], size["mean_tokens"],
                             first)
    os.makedirs(os.path.join(out, "dump"))
    for k, part in enumerate(np.array_split(np.arange(len(lines)), PARTS)):
        with open(os.path.join(out, "dump", f"wiki_{k:02d}"), "w") as f:
            f.write("".join(lines[i] + "\n" for i in part))
    write_json(os.path.join(out, "truth.json"),
               {"docs": len(lines), "generated_tokens": raw})


# --- near-duplicate text -----------------------------------------------------

# Shortest text a near-dup is made from: two replaced tokens change at
# most six of its trigrams, so the trigram Jaccard stays >= 0.85, far
# enough above the 0.8 threshold that the LSH miss probability is
# negligible.
NEAR_DUP_MIN_TOKENS = 90


def near_dup(rng, text, words, zipf):
    """Replace one or two tokens of a text of NEAR_DUP_MIN_TOKENS+."""
    toks = text.split(" ")
    k = 1 + int(rng.random() < 0.5)
    for j in rng.choice(len(toks), size=k, replace=False):
        toks[j] = words[int(zipf(1)[0])] + "x"
    return " ".join(toks)


def _text(rng, words, zipf, ln, lang, stop_rate):
    toks = [words[w] for w in zipf(ln)]
    stops = STOPWORDS[lang]
    u = rng.random(ln)
    picks = rng.integers(0, len(stops), ln)
    return " ".join(stops[picks[j]] if u[j] < stop_rate else toks[j]
                    for j in range(ln))


# --- curate_corpus ----------------------------------------------------------

def _curate_docs(rng, words, n_docs, mean_tokens, first_id):
    zipf = zipf_sampler(rng, len(words))
    langs = ["en", "de", "es", "fr"]
    lang_p = [0.55, 0.15, 0.15, 0.15]
    ids, texts, clones, neardups = [], [], [], []
    lens = doc_lengths(rng, n_docs, mean_tokens)
    i = 0
    while len(texts) < n_docs:
        doc_id = first_id + i
        i += 1
        r = rng.random()
        if texts and r < 0.06:  # exact clone up to case and whitespace
            src = int(rng.integers(0, len(texts)))
            t = texts[src]
            t = t.upper() if rng.random() < 0.5 else t.replace(" ", "  ", 3)
            clones.append([ids[src], doc_id])
        elif (texts and r < 0.12 and
              len(texts[-1].split(" ")) >= NEAR_DUP_MIN_TOKENS):
            src = len(texts) - 1 - int(rng.integers(0, min(50, len(texts))))
            if len(texts[src].split(" ")) < NEAR_DUP_MIN_TOKENS:
                src = len(texts) - 1
            t = near_dup(rng, texts[src].lower(), words, zipf)
            neardups.append([ids[src], doc_id])
        else:
            lang = langs[int(rng.choice(4, p=lang_p))]
            ln = int(lens[len(texts)])
            if rng.random() < 0.15:  # low quality: short, punctuation, digits
                junk = ["#", "--", "!!", "|", "2024", "&", "**", "...", "404"]
                t = " ".join(rng.choice(junk, size=ln // 3 + 2))
            else:
                t = _text(rng, words, zipf, ln, lang, 0.1 + 0.3 * rng.random())
        ids.append(doc_id)
        texts.append(t)
    return ids, texts, clones, neardups


def gen_curate_corpus(seed, out, size=None):
    size = size or SIZES["curate_corpus"]
    rng = rng_for(seed, 2)
    words = vocabulary(rng)
    first = int(rng.integers(1_000, 9_000))
    ids, texts, clones, near = _curate_docs(rng, words, size["docs"],
                                            size["mean_tokens"], first)
    os.makedirs(os.path.join(out, "docs"))
    for k, part in enumerate(np.array_split(np.arange(len(ids)), PARTS)):
        write_parquet(os.path.join(out, "docs", f"part-{k:05d}.parquet"),
                      [ids[i] for i in part], [texts[i] for i in part])
    write_json(os.path.join(out, "truth.json"), {
        "docs": len(ids), "clone_pairs": clones, "near_dup_pairs": near})


GENERATORS = {"dump_tfidf": gen_dump_tfidf,
              "curate_corpus": gen_curate_corpus}


def generate(workload, seed, out, size=None):
    os.makedirs(out, exist_ok=True)
    GENERATORS[workload](seed, out, size)
