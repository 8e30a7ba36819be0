"""Seeded generators for the three benchmark workloads.

Each generator writes a page table ``(url, warc_ts, html, text, lang)`` as
parquet -- the only thing the pipeline sees -- and a truth side table that
only the checker reads:

    truth(url, cls, family, source_url, shared_run)

``source_url`` names the page a planted copy or variant was derived from
(null for pages planted as originals); ``shared_run`` names the first page
that carries the same planted >= 400-char snippet (substring families).

Sizes scale with ``seconds`` (DOCS_PER_SECOND pages per second of run
length). At ``--seconds 10`` the timed fresh pipeline run takes 15-20 s on
a 4-core host, most of it the pipeline's fixed per-run cost.

Usage (standalone):  python3 gen.py <workload> <seed> <seconds> <out_dir>
"""
import datetime
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORKLOADS = ("crawl_mix", "boilerplate_skew", "substring_heavy")

# docs generated per --seconds unit (see module docstring)
DOCS_PER_SECOND = {"crawl_mix": 800, "boilerplate_skew": 1500,
                   "substring_heavy": 100}

_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def vocabulary(size=4000):
    """Fixed pseudo-word vocabulary, independent of the workload seed."""
    rng = np.random.default_rng(20240601)
    words = set()
    out = []
    while len(out) < size:
        n = int(rng.integers(3, 10))
        w = "".join(rng.choice(_LETTERS, n))
        if w not in words:
            words.add(w)
            out.append(w)
    return np.array(out, dtype=object)


VOCAB = vocabulary()
LANGS = np.array(["en", "de", "fr"], dtype=object)
HOSTS = np.array([f"site{i}.example" for i in range(400)], dtype=object)
EPOCH = datetime.datetime(2024, 3, 1)


class Corpus:
    """Accumulates pages in generation order; shuffled on write."""

    def __init__(self, rng):
        self.rng = rng
        self.texts, self.cls, self.family, self.source, self.shared = [], [], [], [], []

    def add(self, tokens, cls, family, source=None, shared=None):
        """Adds one page; returns its index (source/shared are indices)."""
        self.texts.append(" ".join(VOCAB[tokens]) if not isinstance(tokens, str) else tokens)
        self.cls.append(cls)
        self.family.append(family)
        self.source.append(source)
        self.shared.append(shared)
        return len(self.texts) - 1

    def write(self, out_dir):
        rng = self.rng
        n = len(self.texts)
        order = rng.permutation(n)  # families never sit together
        hosts = HOSTS[rng.integers(0, len(HOSTS), n)]
        urls = [f"https://{hosts[i]}/p/{rng_tag}/{i}"
                for i, rng_tag in zip(range(n), rng.integers(0, 1 << 30, n))]
        ts = [EPOCH + datetime.timedelta(seconds=int(s))
              for s in rng.integers(0, 86400 * 60, n)]
        lang = LANGS[np.searchsorted([0.90, 0.96, 1.0], rng.random(n), side="right")]
        html = [(f"<html><head><title>{t[:40]}</title></head><body><p>{t}</p>"
                 "</body></html>").encode() for t in self.texts]
        os.makedirs(out_dir, exist_ok=True)
        pages = pa.table({
            "url": pa.array([urls[i] for i in order], pa.string()),
            "warc_ts": pa.array([ts[i] for i in order], pa.timestamp("us", tz="UTC")),
            "html": pa.array([html[i] for i in order], pa.binary()),
            "text": pa.array([self.texts[i] for i in order], pa.string()),
            "lang": pa.array([lang[i] for i in order], pa.string()),
        })
        os.makedirs(os.path.join(out_dir, "pages"), exist_ok=True)
        pq.write_table(pages, os.path.join(out_dir, "pages", "part-0.parquet"),
                       row_group_size=8192)

        def url_of(ix):
            return None if ix is None else urls[ix]
        truth = pa.table({
            "url": pa.array([urls[i] for i in order], pa.string()),
            "cls": pa.array([self.cls[i] for i in order], pa.string()),
            "family": pa.array([self.family[i] for i in order], pa.int64()),
            "source_url": pa.array([url_of(self.source[i]) for i in order], pa.string()),
            "shared_run": pa.array([url_of(self.shared[i]) for i in order], pa.string()),
        })
        pq.write_table(truth, os.path.join(out_dir, "truth.parquet"))
        return n


def _lognormal_len(rng, median, sigma, lo, hi):
    return int(np.clip(rng.lognormal(np.log(median), sigma), lo, hi))


def _substitute(rng, tokens, count):
    """Replaces `count` distinct positions with fresh vocabulary words."""
    out = tokens.copy()
    if count > 0:
        pos = rng.choice(len(out), size=min(count, len(out)), replace=False)
        out[pos] = rng.integers(0, len(VOCAB), len(pos))
    return out


def crawl_mix(rng, n):
    """Synth's class proportions: unique 54%, exact families 15%, near
    families 20% (0.25-1% token substitution), substring families 7%,
    short pages 3%, one hot template 1%. Families are an original plus 1-3
    copies, so about 23% of pages are planted duplicates."""
    c = Corpus(rng)
    fam = 0
    hot = rng.integers(0, len(VOCAB), 180)
    n_hot = max(2, int(0.01 * n))
    hot_src = c.add(hot, "hot", -1)
    for _ in range(n_hot - 1):
        c.add(hot, "hot", -1, source=hot_src)
    # family draw probabilities: page share / mean family size
    kinds = ("unique", "exact", "near", "substr", "short")
    mass = np.array([0.54 / 1, 0.15 / 3, 0.20 / 3, 0.07 / 3.5, 0.03 / 1])
    cum = np.cumsum(mass / mass.sum())
    while len(c.texts) < n:
        kind = kinds[int(np.searchsorted(cum, rng.random(), side="right"))]
        fam += 1
        if kind == "unique":
            c.add(rng.integers(0, len(VOCAB), _lognormal_len(rng, 200, 0.6, 20, 800)),
                  "unique", fam)
        elif kind == "exact":
            base = rng.integers(0, len(VOCAB), _lognormal_len(rng, 200, 0.6, 20, 800))
            src = c.add(base, "exact", fam)
            for _ in range(int(rng.integers(1, 4))):
                c.add(base, "exact", fam, source=src)
        elif kind == "near":
            base = rng.integers(0, len(VOCAB), _lognormal_len(rng, 200, 0.6, 20, 800))
            src = c.add(base, "near", fam)
            for _ in range(int(rng.integers(1, 4))):
                rate = rng.choice([0.0025, 0.005, 0.01])
                c.add(_substitute(rng, base, int(round(rate * len(base)))),
                      "near", fam, source=src)
        elif kind == "substr":
            shared = rng.integers(0, len(VOCAB), 100)  # >= 400 chars
            first = None
            for _ in range(int(rng.integers(2, 5))):
                toks = np.concatenate([rng.integers(0, len(VOCAB), 40), shared,
                                       rng.integers(0, len(VOCAB), 40)])
                ix = c.add(toks, "substr", fam, shared=first)
                first = ix if first is None else first
        else:
            # below min_length (5 tokens); the index keeps the text unique
            words = VOCAB[rng.integers(0, len(VOCAB), int(rng.integers(1, 4)))]
            c.add(" ".join(list(words) + [str(len(c.texts))]), "short", fam)
    return c


def boilerplate_skew(rng, n):
    """Short pages (about 40-80 tokens). 70% are variants of 40 templates of
    40-60 tokens, one of which holds 15% of the corpus; 30% are unique.
    A variant is its template plus a page-specific tail sized so that its
    5-gram Jaccard to the template is uniform in [0.5, 0.95]; 10% are
    verbatim copies."""
    c = Corpus(rng)
    n_templates = 40
    weights = np.concatenate([[0.15], np.full(n_templates - 1, 0.55 / (n_templates - 1))])
    templates = [rng.integers(0, len(VOCAB), int(rng.integers(40, 61)))
                 for _ in range(n_templates)]
    srcs = [c.add(t, "template", k) for k, t in enumerate(templates)]
    picks = np.searchsorted(np.cumsum(weights), rng.random(n - n_templates), side="right")
    for p in picks:
        if p >= n_templates:
            c.add(rng.integers(0, len(VOCAB), int(rng.integers(40, 81))), "unique",
                  n_templates + len(c.texts))
            continue
        base = templates[p]
        if rng.random() < 0.1:
            tail = 0
        else:
            # J = shared / (shared + tail) with shared = len(base) - 4 grams
            tail = max(1, int(round((len(base) - 4) * (1 / rng.uniform(0.5, 0.95) - 1))))
        c.add(np.concatenate([base, rng.integers(0, len(VOCAB), tail)]), "variant", int(p),
              source=srcs[p])
    return c


def substring_heavy(rng, n):
    """Long pages (800-1,500 tokens). 60% of pages embed 1-2 snippets (a
    quote or footer of 80-150 tokens, >= 400 chars) from a pool of 60;
    3% are exact copies and 2% near copies (0.5% substitution) of an
    earlier page."""
    c = Corpus(rng)
    pool = [rng.integers(0, len(VOCAB), int(rng.integers(80, 151))) for _ in range(60)]
    first_with = {}
    fam = 0
    while len(c.texts) < n:
        u = rng.random()
        fam += 1
        if u < 0.05 and c.texts:
            src = int(rng.integers(0, len(c.texts)))
            if c.cls[src] in ("exact", "near"):
                src = c.source[src]
            toks = c.texts[src]
            if u < 0.03:
                c.add(toks, "exact", c.family[src], source=src,
                      shared=c.shared[src])
            else:
                words = np.array(toks.split(" "), dtype=object)
                pos = rng.choice(len(words), size=max(1, len(words) // 200), replace=False)
                words[pos] = VOCAB[rng.integers(0, len(VOCAB), len(pos))]
                c.add(" ".join(words), "near", c.family[src], source=src,
                      shared=c.shared[src])
            continue
        body = rng.integers(0, len(VOCAB), int(rng.integers(800, 1501)))
        if rng.random() < 0.6:
            k = int(rng.integers(1, 3))
            chosen = rng.choice(len(pool), size=k, replace=False)
            parts, at = [], 0
            cuts = sorted(rng.integers(0, len(body), k))
            for cut, s in zip(cuts, chosen):
                parts += [body[at:cut], pool[s]]
                at = cut
            parts.append(body[at:])
            s0 = int(chosen[0])
            ix = c.add(np.concatenate(parts), "snippet", fam, shared=first_with.get(s0))
            first_with.setdefault(s0, ix)
        else:
            c.add(body, "unique", fam)
    return c


GENERATORS = {"crawl_mix": crawl_mix, "boilerplate_skew": boilerplate_skew,
              "substring_heavy": substring_heavy}


def generate(workload, seed, seconds, out_dir, scale=1.0, warmup=False):
    """Writes <out_dir>/pages/ and <out_dir>/truth.parquet; returns doc count.
    `warmup` draws an eighth-size input from a separate stream of the seed."""
    stream = [int(seed), WORKLOADS.index(workload)] + ([1] if warmup else [])
    n = int(DOCS_PER_SECOND[workload] * seconds * scale / (8 if warmup else 1))
    return GENERATORS[workload](np.random.default_rng(stream), max(200, n)).write(out_dir)


if __name__ == "__main__":
    w, s, sec, out = sys.argv[1], int(sys.argv[2]), float(sys.argv[3]), sys.argv[4]
    print(generate(w, s, sec, out))
