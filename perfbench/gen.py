"""Seeded input generator for the benchmark workloads.

Every generator is a pure function of ``seed`` and a fixed size table: the
same seed writes byte-identical files, another seed changes the content but
not the shape (record counts, duplicate fractions, HTML share, comments per
post, cluster sizes and chain lengths stay fixed). Each generator returns
the input properties it planted, which the run output reports.

The stream workload's generator runs as its own process
(``python gen.py stream ...``) so that its open-loop schedule never waits
on the engine under test.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time

# ---------------------------------------------------------------------------
# vocabulary: fixed for every seed (the seed varies content, not shape)
# ---------------------------------------------------------------------------

_SYL = ["ka", "lo", "mi", "ne", "ru", "ta", "vo", "si", "de", "pa", "go", "ul", "en", "ar"]
WORDS = [a + b + c for a in _SYL for b in _SYL for c in _SYL[:6]]  # 1176 words
SENTIMENT_WORDS = [
    "good", "great", "love", "best", "happy", "awesome", "fast", "amazing",
    "bad", "terrible", "hate", "worst", "slow", "broken", "fail", "crash",
]
STOP = ["the", "a", "and", "of", "to", "is", "it", "on", "for", "with", "lol", "im"]
TRENDS = [f"trend{i}" for i in range(20)]
MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
DAYS = ["Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun"]

#: base epoch for every generated date: 2024-01-01T00:00:00Z
EPOCH0 = 1704067200

#: per-workload sizes; fixed so that every seed has the same shape. The
#: rates and sizes are tied to measurements (README.md, "Where the input
#: figures come from"); the duplicate and pre-seed fractions are chosen, not
#: taken from observed traffic
BATCH = {
    # the topic mix of a 200k-tweet / 50k-post / 100k-feed scale prototype of
    # these pipelines, at 1/50 so that one iteration takes a few seconds
    "tweets": 4000,
    "posts": 1000,
    "comments_per_post": 4,
    "feeds": 2000,
    "dup_fraction": 0.05,  # in-batch re-sends of an earlier record
    "preseed_fraction": 0.2,  # keys already in the sink before the run
    "html_share": 0.4,  # RSS content that is HTML (routed to the strip leg)
    "parsed_date_share": 0.3,  # RSS records carrying published_parsed
}
STREAM = {
    # the scale prototype's rate; on the 4-vCPU host the stream keeps up at
    # 1,000-3,000 events/s and its p50 latency is flat up to 2,000/s, then
    # rises (README.md)
    "rate_per_s": 2000,  # open-loop event rate
    "files_per_s": 5,  # one file every 200 ms
    "redelivery_fraction": 0.05,  # at-least-once re-sends of earlier events
    "lead_in_s": 3.0,  # open-loop seconds before latency sampling starts
    "backlog_records": 6000,  # dumped at once for the drain phase
    "backlog_files": 60,
}
CURATION = {
    "docs": 2000,
    "clusters": 150,  # planted near-duplicate clusters
    "doc_words": 60,
    "edits_per_step": 2,  # words replaced between consecutive variants
    "dim": 64,
    "queries": 200,
    "threshold": 0.5,
}


def _rng(seed: int, name: str) -> random.Random:
    # str seeds hash with sha512: stable across processes and platforms
    return random.Random(f"{seed}:{name}")


def _sentence(r: random.Random, n: int) -> list[str]:
    out = []
    for _ in range(n):
        x = r.random()
        if x < 0.08:
            out.append(r.choice(SENTIMENT_WORDS))
        elif x < 0.25:
            out.append(r.choice(STOP))
        else:
            out.append(r.choice(WORDS))
    return out


def _write_jsonl(path: str, rows) -> int:
    n = 0
    with open(path, "w", encoding="utf-8") as f:
        for row in rows:
            f.write(json.dumps(row, separators=(",", ":")))
            f.write("\n")
            n += 1
    return n


def _with_dups(r: random.Random, rows: list[dict], frac: float) -> list[dict]:
    """Re-send ``frac`` of the rows later in the same file (same key, same
    payload): the in-batch duplicates the sink must collapse."""
    n_dup = int(len(rows) * frac)
    picks = r.sample(range(len(rows)), n_dup)
    out = list(rows)
    for i in picks:
        out.insert(r.randrange(i, len(out) + 1), rows[i])
    return out


# ---------------------------------------------------------------------------
# ingest_batch
# ---------------------------------------------------------------------------


def _tweet(r: random.Random, key: str, ts: int, gen_us: int | None = None) -> dict:
    words = _sentence(r, r.randint(8, 20))
    for _ in range(r.randint(0, 3)):
        words.insert(r.randrange(len(words) + 1), "#" + r.choice(WORDS[:200]))
    if r.random() < 0.5:
        created = time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(ts)) + "+00:00"
    else:
        # compact offset: the same instant written in +0200
        created = time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(ts + 7200)) + "+0200"
    metrics = {"likes": r.randint(0, 500), "retweets": r.randint(0, 50)}
    if gen_us is not None:
        metrics["gen_us"] = gen_us
    return {
        "tweet_id": key,
        "text": " ".join(words),
        "created_at": created,
        "metrics": metrics,
        "author": {"name": r.choice(WORDS), "followers": str(r.randint(0, 9999))},
        "trend": r.choice(TRENDS),
        "place": None,
    }


def _post(r: random.Random, key: str, ts: int, n_comments: int) -> dict:
    comments = []
    for _ in range(n_comments):
        words = _sentence(r, r.randint(10, 30))
        if r.random() < 0.3:
            words.insert(0, "[" + r.choice(WORDS) + "]")
        if r.random() < 0.3:
            words.append(f"{r.choice(WORDS)}{r.randint(1, 99)}!")
        comments.append({"text": " ".join(words)})
    return {
        "id": key,
        "title": " ".join(_sentence(r, r.randint(4, 10))),
        "author": {"name": r.choice(WORDS)},
        "created": time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(ts)),
        "score": r.randint(0, 10000),
        "upvote_ratio": round(r.random(), 3),
        "reddit": {"subreddit": r.choice(TRENDS)},
        "domain": "self." + r.choice(TRENDS),
        "url": f"https://example.org/r/{key}",
        "comments": comments,
    }


def _rfc822(ts: int, numeric: bool) -> str:
    t = time.gmtime(ts)
    body = f"{DAYS[t.tm_wday]}, {t.tm_mday:02d} {MONTHS[t.tm_mon - 1]} {t.tm_year} " + time.strftime(
        "%H:%M:%S", t
    )
    return body + (" +0000" if numeric else " GMT")


def _feed(r: random.Random, key: str, ts: int, html: bool, parsed: bool) -> dict:
    sents = [" ".join(_sentence(r, r.randint(6, 14))).capitalize() + "." for _ in range(r.randint(2, 5))]
    if html:
        content = "<div>" + "".join(f"<p>{s}</p>" for s in sents) + "<script>var x=1;</script></div>"
    else:
        content = " ".join(sents)
    x = r.random()
    summary = None if x < 0.4 else ("<b>" + sents[0] + "</b>" if x < 0.7 else sents[0])
    t = time.gmtime(ts)
    return {
        "feed_source": "https://" + r.choice(TRENDS) + ".example.com/rss",
        "title": " ".join(_sentence(r, r.randint(4, 9))),
        "link": key,
        "published": _rfc822(ts, numeric=r.random() < 0.5),
        "author": r.choice(WORDS),
        "summary": summary,
        "published_parsed": (
            [t.tm_year, t.tm_mon, t.tm_mday, t.tm_hour, t.tm_min, t.tm_sec, t.tm_wday, t.tm_yday, 0]
            if parsed
            else None
        ),
        "content": content,
    }


def gen_batch(seed: int, out_dir: str, scale: float = 1.0) -> dict:
    """Write ``{tweets,posts,feeds}.jsonl`` plus the pre-seed key subsets
    ``preseed_{tweets,posts,feeds}.jsonl`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, "batch")
    n_tw = max(20, int(BATCH["tweets"] * scale))
    n_po = max(20, int(BATCH["posts"] * scale))
    n_fe = max(20, int(BATCH["feeds"] * scale))
    cpp = BATCH["comments_per_post"]
    ts = lambda: EPOCH0 + r.randrange(0, 365 * 86400)  # noqa: E731
    tweets = [_tweet(r, f"tw{seed}-{i}", ts()) for i in range(n_tw)]
    posts = [_post(r, f"rd{seed}-{i}", ts(), cpp) for i in range(n_po)]
    feeds = [
        _feed(r, f"https://news.example.com/{seed}/{i}", ts(),
              html=r.random() < BATCH["html_share"], parsed=r.random() < BATCH["parsed_date_share"])
        for i in range(n_fe)
    ]
    props: dict = {"seed": seed}
    for name, rows in (("tweets", tweets), ("posts", posts), ("feeds", feeds)):
        pre = r.sample(rows, int(len(rows) * BATCH["preseed_fraction"]))
        _write_jsonl(os.path.join(out_dir, f"preseed_{name}.jsonl"), pre)
        sent = _with_dups(r, rows, BATCH["dup_fraction"])
        _write_jsonl(os.path.join(out_dir, f"{name}.jsonl"), sent)
        props[name] = {"records": len(sent), "distinct": len(rows), "preseeded": len(pre)}
    props["dup_fraction"] = BATCH["dup_fraction"]
    props["preseed_fraction"] = BATCH["preseed_fraction"]
    props["comments_per_post"] = cpp
    props["html_share"] = round(sum(f["content"].startswith("<") for f in feeds) / len(feeds), 4)
    props["parsed_date_share"] = round(sum(bool(f["published_parsed"]) for f in feeds) / len(feeds), 4)
    return props


# ---------------------------------------------------------------------------
# ingest_stream: open-loop file generator (runs as its own process)
# ---------------------------------------------------------------------------


def _fresh(seed: int, k: int, gen_us: int) -> list[dict]:
    per_file = STREAM["rate_per_s"] // STREAM["files_per_s"]
    r = _rng(seed, f"stream:{k}")
    return [_tweet(r, f"st{seed}-{k}-{i}", EPOCH0 + k, gen_us) for i in range(per_file)]


def stream_file(seed: int, k: int, gen_us: int) -> list[dict]:
    """Events of open-loop file ``k``: ``rate / files_per_s`` new tweets
    stamped with the file's due time, plus re-sends of events from the
    previous file (at-least-once redelivery: same key, same stamp)."""
    rows = _fresh(seed, k, gen_us)
    if k > 0:
        prev = _fresh(seed, k - 1, gen_us - 1_000_000 // STREAM["files_per_s"])
        r = _rng(seed, f"resend:{k}")
        rows += r.sample(prev, int(len(prev) * STREAM["redelivery_fraction"]))
    return rows


def backlog_file(seed: int, k: int, gen_us: int) -> list[dict]:
    """Events of drain-phase file ``k`` (written all at once)."""
    per_file = STREAM["backlog_records"] // STREAM["backlog_files"]
    r = _rng(seed, f"backlog:{k}")
    rows = [_tweet(r, f"bl{seed}-{k}-{i}", EPOCH0 + k, gen_us) for i in range(per_file)]
    rows += r.sample(rows, int(per_file * STREAM["redelivery_fraction"]))
    return rows


def _publish(path: str, rows: list[dict]) -> None:
    # the file source ignores dot-files: write aside, then rename atomically
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path))
    _write_jsonl(tmp, rows)
    os.rename(tmp, path)


def run_stream_generator(seed: int, out_dir: str, start: float, seconds: float,
                         drain_flag: str, report: str) -> None:
    """Open loop: file k is due at ``start + k / files_per_s`` whatever the
    engine is doing; its events carry that due time in ``metrics.gen_us``.
    Then wait for ``drain_flag`` to appear and dump the backlog at once."""
    os.makedirs(out_dir, exist_ok=True)
    n_files = open_files(seconds)
    late_max = 0.0
    sent = 0
    for k in range(n_files):
        due = start + k / STREAM["files_per_s"]
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        rows = stream_file(seed, k, int(due * 1e6))
        _publish(os.path.join(out_dir, f"open-{k:05d}.json"), rows)
        late_max = max(late_max, time.time() - due)
        sent += len(rows)
    # never outlive the run: give up if the parent is gone or never signals
    parent, give_up = os.getppid(), time.time() + 120
    while not os.path.exists(drain_flag):
        if os.getppid() != parent or time.time() > give_up:
            return
        time.sleep(0.01)
    drain_start = time.time()
    for k in range(STREAM["backlog_files"]):
        rows = backlog_file(seed, k, int(drain_start * 1e6))
        _publish(os.path.join(out_dir, f"drain-{k:05d}.json"), rows)
        sent += len(rows)
    with open(report, "w", encoding="utf-8") as f:
        json.dump({"open_files": n_files, "sent": sent, "gen_late_max_s": late_max,
                   "drain_start": drain_start, "drain_written": time.time()}, f)


def open_files(seconds: float) -> int:
    """Open-loop files: the lead-in plus ``seconds`` of sampled load."""
    return int((STREAM["lead_in_s"] + seconds) * STREAM["files_per_s"])


def stream_expected(seed: int, seconds: float) -> dict:
    """Distinct keys the generator sends in each phase (content is a pure
    function of seed and file index, so the parent can recompute it).
    ``sampled`` leaves out the lead-in, whose first micro-batches still
    pay the query's start-up."""
    per_file = STREAM["rate_per_s"] // STREAM["files_per_s"]
    per_bl = STREAM["backlog_records"] // STREAM["backlog_files"]
    n_files = open_files(seconds)
    lead = int(STREAM["lead_in_s"] * STREAM["files_per_s"])
    return {
        "open": {f"st{seed}-{k}-{i}" for k in range(n_files) for i in range(per_file)},
        "sampled": {f"st{seed}-{k}-{i}" for k in range(lead, n_files) for i in range(per_file)},
        "drain": {f"bl{seed}-{k}-{i}" for k in range(STREAM["backlog_files"]) for i in range(per_bl)},
        "open_files": n_files,
    }


def stream_props(seconds: float) -> dict:
    return {
        "rate_per_s": STREAM["rate_per_s"],
        "files_per_s": STREAM["files_per_s"],
        "lead_in_s": STREAM["lead_in_s"],
        "sampled_s": seconds,
        "redelivery_fraction": STREAM["redelivery_fraction"],
        "backlog_records": STREAM["backlog_records"],
        "backlog_files": STREAM["backlog_files"],
    }


# ---------------------------------------------------------------------------
# curation_dedup
# ---------------------------------------------------------------------------

#: planted cluster sizes, cycled over the clusters (fixed multiset per seed)
CLUSTER_SIZES = (2, 3, 4, 5, 8)
EMB_CENTERS = 32


def shingle_set(text: str, n: int = 3) -> set[str]:
    """Python twin of ``operators.dedup.shingles``: distinct word n-grams of
    the lowercased, single-space tokenized text."""
    toks = [t for t in text.lower().split(" ") if t]
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: set, b: set) -> float:
    u = len(a | b)
    return len(a & b) / u if u else 0.0


def gen_curation(seed: int, out_dir: str, scale: float = 1.0,
                 cluster_sizes: tuple = CLUSTER_SIZES) -> tuple[dict, dict]:
    """Write ``docs.jsonl`` (doc_id, text) with planted near-duplicate
    clusters and ``emb.jsonl`` (vec_id, embedding[64]) with seeded
    clustered vectors. Returns (properties, truth): truth holds the planted
    pairs whose exact shingle Jaccard clears the threshold, each doc's
    planted cluster, and the query ids."""
    import numpy as np

    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, "curation")
    n_docs = max(40, int(CURATION["docs"] * scale))
    n_clusters = max(5, int(CURATION["clusters"] * scale))
    words = CURATION["doc_words"]
    texts: list[str] = []
    cluster_of: list[int] = []
    chains = 0
    for c in range(n_clusters):
        size = cluster_sizes[c % len(cluster_sizes)]
        chain = c % 2 == 0  # even clusters: variant chain; odd: star of variants
        chains += chain
        root = [r.choice(WORDS) for _ in range(words)]
        prev = root
        for _ in range(size):
            # chain: each variant edits the previous one, so its ends drift
            # below the threshold; star: each variant edits the root
            cur = list(prev if chain else root)
            for _ in range(CURATION["edits_per_step"]):
                cur[r.randrange(words)] = r.choice(WORDS)
            texts.append(" ".join(cur))
            cluster_of.append(c)
            prev = cur
    while len(texts) < n_docs:
        texts.append(" ".join(r.choice(WORDS) for _ in range(words)))
        cluster_of.append(-1)
    order = list(range(len(texts)))
    r.shuffle(order)
    docs = [(i, texts[j], cluster_of[j]) for i, j in enumerate(order)]
    _write_jsonl(os.path.join(out_dir, "docs.jsonl"), ({"doc_id": i, "text": t} for i, t, _ in docs))

    by_cluster: dict[int, list[int]] = {}
    for i, _, c in docs:
        if c >= 0:
            by_cluster.setdefault(c, []).append(i)
    sh = {i: shingle_set(t) for i, t, c in docs if c >= 0}
    pairs = set()
    for ids in by_cluster.values():
        for x in ids:
            for y in ids:
                if x < y and jaccard(sh[x], sh[y]) >= CURATION["threshold"]:
                    pairs.add((x, y))

    rng = np.random.default_rng([seed, 7])
    dim = CURATION["dim"]
    centers = rng.standard_normal((EMB_CENTERS, dim))
    assign = rng.integers(0, EMB_CENTERS, len(docs))
    emb = centers[assign] + 0.35 * rng.standard_normal((len(docs), dim))
    emb = np.round(emb, 5)
    _write_jsonl(os.path.join(out_dir, "emb.jsonl"),
                 ({"vec_id": i, "embedding": [float(x) for x in emb[i]]} for i in range(len(docs))))
    queries = sorted(int(x) for x in rng.choice(len(docs), min(CURATION["queries"], len(docs)), replace=False))

    sizes = [len(v) for v in by_cluster.values()]
    props = {
        "docs": len(docs),
        "clusters": len(by_cluster),
        "cluster_sizes": {str(s): sizes.count(s) for s in sorted(set(sizes))},
        "chain_clusters": chains,
        "chain_lengths": sorted(set(cluster_sizes)),
        "docs_in_clusters": sum(sizes),
        "planted_pairs": len(pairs),
        "threshold": CURATION["threshold"],
        "dim": dim,
        "emb_centers": EMB_CENTERS,
        "queries": len(queries),
    }
    truth = {"pairs": pairs, "cluster_of": {i: c for i, _, c in docs},
             "queries": queries, "emb": emb}
    return props, truth


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description="perfbench input generator")
    sub = p.add_subparsers(dest="cmd", required=True)
    s = sub.add_parser("stream", help="run the open-loop stream generator")
    s.add_argument("--seed", type=int, required=True)
    s.add_argument("--dir", required=True)
    s.add_argument("--start", type=float, required=True)
    s.add_argument("--seconds", type=float, required=True)
    s.add_argument("--drain-flag", required=True)
    s.add_argument("--report", required=True)
    a = p.parse_args(argv)
    run_stream_generator(a.seed, a.dir, a.start, a.seconds, a.drain_flag, a.report)


if __name__ == "__main__":
    main(sys.argv[1:])
