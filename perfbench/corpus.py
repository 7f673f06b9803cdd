"""Seeded Zipf corpus for the wordcount_zipf workload.

Tokens are drawn from a Zipf law (s = 1.05) over a fixed vocabulary of
word types. Each type is a distinct letter-only string: the type's rank
written in bijective base 29 over the letters a-z plus the two-byte
UTF-8 letters ä, ö and å, so frequent words are short, every type has
exactly one spelling, and no two types collide. Words are separated by
runs of non-letters (spaces, punctuation, digit groups, newlines), so
any tokenizer that splits on non-letters sees exactly the generated
tokens. The manifest's counts come from the sampled ranks themselves,
not from a tokenizer.

The same seed gives a byte-identical corpus.
"""
import hashlib
import json

import numpy as np

ZIPF_S = 1.05
VOCAB = 5_000_000
TOKENS = 8_500_000
WORDS_PER_LINE = 12
ALPHABET = "abcdefghijklmnopqrstuvwxyzäöå"
# delimiter runs between words: (text, weight)
DELIMITERS = [(" ", 0.86), (", ", 0.05), (". ", 0.04), (" 1917 ", 0.02),
              (" - ", 0.015), ("; ", 0.01), (" (", 0.005)]


def spell(ranks, letters):
    """Bijective base-29 spellings of 0-based ranks, as one UTF-8 byte
    buffer plus each word's (start, length) in it. Vectorized: the
    corpus has ~1M distinct words."""
    n = ranks.astype(np.int64) + 1
    digits = []  # least significant first; -1 once a word is spelled out
    while (n > 0).any():
        live = n > 0
        digits.append(np.where(live, (n - 1) % len(letters), -1))
        n = np.where(live, (n - 1) // len(letters), 0)
    grid = np.stack(digits[::-1], axis=1)  # most significant first
    flat = grid[grid >= 0]
    utf8 = [letters[i].encode("utf-8") for i in range(len(letters))]
    nbytes = np.array([len(b) for b in utf8], dtype=np.int64)
    table = np.zeros((len(utf8), 2), dtype=np.uint8)
    for i, b in enumerate(utf8):
        table[i, :len(b)] = list(b)
    per_byte = np.repeat(flat, nbytes[flat])
    first = np.repeat(np.cumsum(nbytes[flat]) - nbytes[flat], nbytes[flat])
    buf = table[per_byte, np.arange(len(per_byte)) - first]
    lengths = np.where(grid >= 0, nbytes[np.maximum(grid, 0)], 0).sum(axis=1)
    return buf, np.cumsum(lengths) - lengths, lengths


def generate(seed, tokens=TOKENS, vocab=VOCAB, s=ZIPF_S):
    """Return (corpus bytes, manifest dict) for `seed`."""
    rng = np.random.default_rng(seed)
    letters = [ALPHABET[i] for i in rng.permutation(len(ALPHABET))]
    cdf = np.cumsum(np.arange(1, vocab + 1, dtype=np.float64) ** -s)
    cdf /= cdf[-1]
    ranks = np.searchsorted(cdf, rng.random(tokens), side="right")
    ranks = np.minimum(ranks, vocab - 1)
    seen = np.bincount(ranks, minlength=vocab) > 0
    used = np.flatnonzero(seen)
    inverse = (np.cumsum(seen) - 1)[ranks]
    wbuf, wstart, wlen = spell(used, letters)
    delims = [d.encode("utf-8") for d, _ in DELIMITERS] + [b"\n"]
    weights = np.array([w for _, w in DELIMITERS])
    picks = rng.choice(len(DELIMITERS), size=tokens, p=weights / weights.sum())
    picks[WORDS_PER_LINE - 1::WORDS_PER_LINE] = len(delims) - 1
    picks[-1] = len(delims) - 1
    dlen = np.array([len(d) for d in delims], dtype=np.int64)
    dstart = len(wbuf) + np.cumsum(dlen) - dlen
    source = np.concatenate(
        [wbuf, np.frombuffer(b"".join(delims), dtype=np.uint8)])
    # each token is two segments of `source`: its word, then its delimiter
    seg_start = np.empty(2 * tokens, dtype=np.int64)
    seg_len = np.empty(2 * tokens, dtype=np.int64)
    seg_start[0::2], seg_len[0::2] = wstart[inverse], wlen[inverse]
    seg_start[1::2], seg_len[1::2] = dstart[picks], dlen[picks]
    out_start = np.cumsum(seg_len) - seg_len
    index = (np.repeat(seg_start - out_start, seg_len)
             + np.arange(int(seg_len.sum()), dtype=np.int64))
    corpus = source[index].tobytes()
    manifest = {
        "seed": seed,
        "bytes": len(corpus),
        "tokens": int(tokens),
        "distinct": int(len(used)),
        "zipf_s": s,
        "vocab": vocab,
        "sha256": hashlib.sha256(corpus).hexdigest(),
    }
    return corpus, manifest


def write(seed, corpus_path, manifest_path, **kw):
    corpus, manifest = generate(seed, **kw)
    with open(corpus_path, "wb") as f:
        f.write(corpus)
    with open(manifest_path, "w") as f:
        json.dump(manifest, f)
    return manifest
