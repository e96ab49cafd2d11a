"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the seed: the same seed gives the
same rows, another seed gives other rows of the same count and shape.
The base texts follow the shape of the engine's ``documents.text`` test
table (10-100 words drawn from a ~30-word vocabulary, ~300 characters),
so the extraction kernel and the curation operators see the same kind of
text as in the repo's own tests.

Text columns are written with pyarrow. The html wrap happens in Spark
with ``fixtures.wrap_html_expr`` (see ``workloads.py``), the same shell
the oracle round trip uses, so the golden extraction of every page is
exactly its text.
"""

from __future__ import annotations

import datetime as dt
import random

BASE_DOCS = 5000
VOCAB = (
    "a agg batch big column data fast filter group hash key line merge "
    "order part query row scan slow small sort spark stream table value "
    "vector window join index cache tree"
).split()

BASE_TS = dt.datetime(2026, 1, 1)

# Skewed-job tier: this share of urls also has an older capture whose text
# differs from the latest one, and HUGE_PAGES pages are 100-1000x the
# median page (the fixtures' ``huge-`` tier). The huge sizes are evenly
# spaced, not drawn, so every seed carries the same number of huge bytes.
DUP_SHARE = 0.1
SHELL_BYTES = 616  # what the two-paragraph html shell adds to a text
HUGE_PAGES = 4
HUGE_MULTIPLIERS = [100 + 900 * i // (HUGE_PAGES - 1) for i in range(HUGE_PAGES)]

# Curation tier, after bench.py's curate corpus: a per-document marker on
# every 6th word, one corpus-wide boilerplate line, a licence passage on
# every 61st base document and /private/ paths on every 50th url.
BOILER_LINE = "Subscribe to our newsletter | Cookie settings | Back to top"
DUP_PASSAGE = (
    "This work is licensed under the Creative Example License and may be "
    "redistributed verbatim in any medium provided this notice and the "
    "original attribution are preserved intact by the redistributor."
)
BENCH_REF_DOCS = 50


def base_texts(seed: int, n: int = BASE_DOCS) -> list[str]:
    rng = random.Random(seed)
    return [
        " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100)))
        for _ in range(n)
    ]


def uniform_rows(seed: int, replicas: int) -> list[tuple[str, dt.datetime, str]]:
    """(url, warc_ts, text) for the bounded-size extraction corpus: every
    base text once per replica, each under its own url."""
    texts = base_texts(seed)
    return [
        (f"https://bench.example/{rep}/{i}", BASE_TS, t)
        for rep in range(replicas)
        for i, t in enumerate(texts)
    ]


def _tile(text: str, n_chars: int) -> str:
    """Repeat ``text`` to at least ``n_chars`` characters (whole words)."""
    reps = -(-n_chars // (len(text) + 1))
    return " ".join([text] * reps)


def skewed_rows(
    seed: int, n_urls: int
) -> tuple[list[tuple[str, dt.datetime, str]], dict[str, str]]:
    """Captures for the durable-job corpus and the golden text per url.

    Returns ``(rows, golden)``: rows are (url, warc_ts, text), with one
    extra, older capture for a ``DUP_SHARE`` of urls; ``golden`` maps each
    url to its latest capture's text, which is what as-of dedup must keep.
    """
    rng = random.Random(seed)
    texts = base_texts(seed)
    median_page = sorted(len(t) for t in texts)[len(texts) // 2] + SHELL_BYTES
    huge = dict(zip(rng.sample(range(n_urls), HUGE_PAGES), HUGE_MULTIPLIERS))
    dups = set(rng.sample(range(n_urls), int(n_urls * DUP_SHARE)))
    rows = []
    golden = {}
    for i in range(n_urls):
        url = f"https://skew.example/{i}"
        text = texts[i % len(texts)]
        if i in huge:
            text = _tile(text, huge[i] * median_page)
        ts = BASE_TS + dt.timedelta(seconds=i)
        rows.append((url, ts, text))
        golden[url] = text
        if i in dups:
            older = f"older capture {i} " + texts[(i * 7 + 1) % len(texts)]
            rows.append((url, ts - dt.timedelta(days=1), older))
    rng.shuffle(rows)
    return rows, golden


def curate_rows(
    seed: int, replicas: int, base_docs: int
) -> tuple[list[tuple[str, str]], list[tuple[int, str]]]:
    """(url, text) curation corpus and the benchmark reference
    (doc_id, text) that decontamination and the LM train on.

    The url ends in ``/<rep>/<doc_id>``, so checks can tell which base
    document a row derives from.
    """
    texts = base_texts(seed, base_docs)
    rows = []
    for rep in range(replicas):
        for i, t in enumerate(texts):
            uniq = f"u{rep}_{i}"
            words = t.split(" ")
            body = " ".join(
                f"{w} {uniq}" if j % 6 == 5 else w for j, w in enumerate(words)
            )
            if i % 61 == 0:
                body += " " + DUP_PASSAGE
            path = "/private/" if (i + rep) % 50 == 0 else "/d/"
            url = f"https://h{i % 50}.example{path}{rep}/{i}"
            rows.append((url, f"doc {uniq} begins\n{BOILER_LINE}\n{body}"))
    ref = list(enumerate(texts[:BENCH_REF_DOCS]))
    return rows, ref
