"""Seeded, Common-Crawl-shaped page corpora for the benchmark workloads.

Pages are ``(url, warc_ts, html, text=null, lang)`` rows with ~5 KB of html:
a per-host template (style/script blocks, nav and footer links) around a
Zipfian article body.  Every corpus comes with ``truth.json``, the planted
ground truth the benchmark checks the engine's output against:

- ``offtopic_urims``: mementos planted off-topic (their timeline flips to an
  unrelated vocabulary halfway through);
- ``dup_groups``: lists of urims that are planted near-duplicates of each
  other (mirrors and syndication across hosts, re-crawls);
- ``duplicate_keys``: ``(url, warc_ts)`` keys the input lists more than once.

Only the Python standard library and pyarrow are used, and every random draw
comes from ``random.Random(f"{workload}:{seed}")``, so the same seed writes
byte-identical files.  Run as a script to write a corpus by hand:

    python3 perfbench/corpus.py neardup_crawl 7 /tmp/corpus
"""

import gzip
import io
import json
import os
import random
import sys
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = datetime(2016, 1, 1, tzinfo=timezone.utc)
LEXICON_SIZE = 6000
TOPICS = 96
ZIPF_S = 1.07
PARAGRAPHS = (7, 9)
PARAGRAPH_WORDS = (44, 62)

# page counts per workload at scale 1.0 (see README.md for the sizing)
SIZES = {
    "offtopic_timelines": {"timelines": 40, "pages": 200, "depth": (3, 7)},
    "neardup_crawl": {"pages": 450},
    "ingest_promote": {"base_pages": 300, "deltas": 2, "delta_pages": 40},
}

PAGES_SCHEMA = pa.schema([
    pa.field("url", pa.string(), nullable=False),
    pa.field("warc_ts", pa.timestamp("us", tz="UTC"), nullable=False),
    pa.field("html", pa.binary()),
    pa.field("text", pa.string()),
    pa.field("lang", pa.string()),
])

_SITE_WORDS = ["Home", "News", "World", "Business", "Sports", "Culture",
               "Science", "Opinion", "Travel", "Weather", "Video", "Archive",
               "About", "Contact", "Subscribe", "Events", "Jobs", "Help"]
_ONSETS = ["b", "c", "d", "f", "g", "h", "j", "k", "l", "m", "n", "p", "r",
           "s", "t", "v", "w", "z", "br", "ch", "cl", "dr", "gr", "pl", "st",
           "th", "tr"]
_VOWELS = ["a", "e", "i", "o", "u", "ai", "ea", "ou"]
_CODAS = ["", "", "", "n", "r", "l", "s", "m", "x", "nd", "rt"]


def urim_of(url: str, ts: datetime) -> str:
    """The engine's memento id for a (url, warc_ts) key."""
    return f"from-warc::{ts.strftime('%Y%m%d%H%M%S')}::{url}"


class Lexicon:
    """A fixed pseudo-word vocabulary with one Zipfian ranking per topic."""

    def __init__(self):
        rng = random.Random("perfbench-lexicon")
        words = set()
        while len(words) < LEXICON_SIZE:
            syllables = rng.randint(1, 3)
            words.add("".join(rng.choice(_ONSETS) + rng.choice(_VOWELS)
                              + rng.choice(_CODAS) for _ in range(syllables)))
        self.words = sorted(words)
        self.topics = []
        for _ in range(TOPICS):
            ranked = self.words[:]
            rng.shuffle(ranked)
            self.topics.append(ranked)
        weights = [1.0 / (rank + 1) ** ZIPF_S for rank in range(LEXICON_SIZE)]
        self.cum_weights = []
        total = 0.0
        for w in weights:
            total += w
            self.cum_weights.append(total)

    def words_for(self, rng: random.Random, topic: int, n: int) -> list:
        return rng.choices(self.topics[topic], cum_weights=self.cum_weights,
                           k=n)

    def paragraph(self, rng: random.Random, topic: int) -> str:
        words = self.words_for(rng, topic, rng.randint(*PARAGRAPH_WORDS))
        out = []
        for i, word in enumerate(words):
            if i == 0 or out[-1].endswith("."):
                word = word.capitalize()
            if i == len(words) - 1 or rng.random() < 0.07:
                word += "."
            elif rng.random() < 0.05:
                word += ","
            out.append(word)
        return " ".join(out)

    def article(self, rng: random.Random, topic: int) -> dict:
        return {
            "title": " ".join(self.words_for(rng, topic, 6)).title(),
            "paragraphs": [self.paragraph(rng, topic)
                           for _ in range(rng.randint(*PARAGRAPHS))],
        }


def _host_template(rng: random.Random, host: str) -> dict:
    css = "".join(
        f".{rng.choice(_SITE_WORDS).lower()}-{i}{{margin:{rng.randint(0, 9)}px;"
        f"color:#{rng.randrange(1 << 24):06x}}}" for i in range(14))
    js = "".join(
        f"var k{i}='{rng.randrange(1 << 32):08x}';" for i in range(24))
    nav = rng.sample(_SITE_WORDS, 8)
    return {"host": host, "css": css, "js": js, "nav": nav,
            "footer": rng.sample(_SITE_WORDS, 4)}


def render(template: dict, article: dict) -> bytes:
    nav = "".join(f'<li class="nav-item"><a href="/{w.lower()}/">{w}</a></li>'
                  for w in template["nav"])
    footer = " | ".join(f'<a href="/{w.lower()}.html">{w}</a>'
                        for w in template["footer"])
    body = "\n".join(f"<p>{p}</p>" for p in article["paragraphs"])
    return (
        '<!DOCTYPE html>\n<html lang="en"><head><meta charset="utf-8">'
        f"<title>{article['title']}</title>"
        '<link rel="stylesheet" href="/static/site.css">'
        f"<style>{template['css']}</style><script>{template['js']}</script>"
        '</head><body>\n<div id="nav" class="site-nav"><ul>'
        f"{nav}</ul></div>\n"
        f'<div id="main" class="article"><h1>{article["title"]}</h1>\n'
        f"{body}\n</div>\n"
        f'<div id="footer" class="site-footer"><p>{template["host"]}</p>'
        f"<p>{footer}</p></div>\n</body></html>\n"
    ).encode("utf-8")


def edited(rng: random.Random, lexicon: Lexicon, article: dict, topic: int,
           rate: float) -> dict:
    """A near-duplicate: about ``rate`` of the body words replaced."""
    paragraphs = []
    for p in article["paragraphs"]:
        words = p.split(" ")
        for i in range(len(words)):
            if rng.random() < rate:
                words[i] = lexicon.words_for(rng, topic, 1)[0]
        paragraphs.append(" ".join(words))
    return {"title": article["title"], "paragraphs": paragraphs}


class _Crawl:
    """Accumulates page rows plus the planted truth for one corpus."""

    def __init__(self, workload: str, seed: int):
        self.rng = random.Random(f"{workload}:{seed}")
        self.lexicon = Lexicon()
        self.templates = {}
        self.rows = []
        self.groups = []
        self.offtopic = []
        self.duplicate_keys = []
        self.used_keys = set()
        self.next_url = 0

    def template(self, host: str) -> dict:
        if host not in self.templates:
            self.templates[host] = _host_template(self.rng, host)
        return self.templates[host]

    def host(self, n_hosts: int) -> str:
        return f"www.site{self.rng.randrange(n_hosts):04d}.example"

    def url(self, host: str, kind: str = "story") -> str:
        self.next_url += 1
        return f"http://{host}/{kind}/{self.next_url:06d}.html"

    def timestamp(self, url: str, after: datetime | None = None) -> datetime:
        base = after or EPOCH
        while True:
            ts = base + timedelta(seconds=self.rng.randrange(1, 90 * 86400))
            if (url, ts) not in self.used_keys:
                self.used_keys.add((url, ts))
                return ts

    def page(self, url: str, ts: datetime, html: bytes) -> dict:
        row = {"url": url, "warc_ts": ts, "html": html, "text": None,
               "lang": "en"}
        self.rows.append(row)
        return row

    def truth(self, workload: str, seed: int, extra: dict) -> dict:
        return {
            "workload": workload,
            "seed": seed,
            "offtopic_urims": sorted(self.offtopic),
            "dup_groups": sorted(sorted(g) for g in self.groups if len(g) > 1),
            "duplicate_keys": sorted(self.duplicate_keys),
            **extra,
        }


def _write_pages(rows: list, path: str, files: int = 4) -> None:
    os.makedirs(path, exist_ok=True)
    per_file = -(-len(rows) // files)
    for i in range(files):
        part = rows[i * per_file:(i + 1) * per_file]
        table = pa.Table.from_pylist(part, schema=PAGES_SCHEMA)
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"),
                       compression="snappy")


def _warc_record(url: str, ts: datetime, html: bytes, record_no: int) -> bytes:
    http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n"
            + f"Content-Length: {len(html)}\r\n\r\n".encode() + html)
    head = (
        "WARC/1.0\r\nWARC-Type: response\r\n"
        f"WARC-Target-URI: {url}\r\n"
        f"WARC-Date: {ts.strftime('%Y-%m-%dT%H:%M:%SZ')}\r\n"
        f"WARC-Record-ID: <urn:perfbench:{record_no:08d}>\r\n"
        "Content-Type: application/http; msgtype=response\r\n"
        f"Content-Length: {len(http)}\r\n\r\n").encode()
    return head + http + b"\r\n\r\n"


def write_warc(rows: list, path: str) -> None:
    """One gzip member per record (the Common Crawl layout); mtime=0 keeps
    the bytes a function of the rows alone."""
    buf = io.BytesIO()
    for i, row in enumerate(rows):
        with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as member:
            member.write(_warc_record(row["url"], row["warc_ts"], row["html"],
                                      i))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as fh:
        fh.write(buf.getvalue())


def _offtopic_timelines(crawl: _Crawl, scale: float) -> dict:
    rng, lex = crawl.rng, crawl.lexicon
    size = SIZES["offtopic_timelines"]
    n_timelines = max(4, round(size["timelines"] * scale))
    n_pages = max(4 * n_timelines, round(size["pages"] * scale))
    # one long timeline holds 10% of the pages (the slowest group sets the
    # group-kernel stage time); the others share the rest at random depths
    # within size["depth"], so every seed has the same page count.  The
    # long timeline is always the first url and never flips: where its
    # group lands among the hash partitions moves the stage time by ~20%,
    # which would otherwise vary with the seed
    low, high = size["depth"]
    depths = [low] * (n_timelines - 1)
    for _ in range(n_pages - n_pages // 10 - sum(depths)):
        depths[rng.choice([i for i, d in enumerate(depths) if d < high])] += 1
    depths.insert(0, n_pages // 10)
    flips = set(rng.sample(range(1, n_timelines), round(0.2 * n_timelines)))
    for t, depth in enumerate(depths):
        host = f"www.site{t:04d}.example"
        template = crawl.template(host)
        url = f"http://{host}/"
        topic = rng.randrange(TOPICS)
        off_topic = (topic + 1 + rng.randrange(TOPICS - 1)) % TOPICS
        article = lex.article(rng, topic)
        ts = EPOCH + timedelta(seconds=rng.randrange(86400))
        for i in range(depth):
            if t in flips and i >= depth // 2:
                # the page now serves an unrelated site (parked domain,
                # spam): a fresh article in another topic's vocabulary
                page = lex.article(rng, off_topic)
            else:
                # on-topic drift: a few paragraphs rewritten per capture
                page = {"title": article["title"],
                        "paragraphs": list(article["paragraphs"])}
                for _ in range(rng.randint(0, 2)):
                    j = rng.randrange(len(page["paragraphs"]))
                    page["paragraphs"][j] = lex.paragraph(rng, topic)
            ts = ts + timedelta(days=rng.randint(1, 40),
                                seconds=rng.randrange(86400))
            crawl.used_keys.add((url, ts))
            crawl.page(url, ts, render(template, page))
            if t in flips and i >= depth // 2:
                crawl.offtopic.append(urim_of(url, ts))
    return {"timelines": n_timelines, "long_timeline_pages": max(depths)}


def _crawl_pages(crawl: _Crawl, n_pages: int, n_hosts: int,
                 group_share: float = 0.17) -> list:
    """Mostly one-to-three-memento urls with distinct content, plus planted
    near-dup groups of 2-20 members spread over distinct hosts.  Returns the
    group records ``(topic, article, members)`` for later batches."""
    rng, lex = crawl.rng, crawl.lexicon
    groups = []
    grouped = 0
    while grouped < group_share * n_pages:
        size = min(20, int(2 / (1 - rng.random()) ** 0.8))
        topic = rng.randrange(TOPICS)
        article = lex.article(rng, topic)
        members = []
        for host_no in rng.sample(range(n_hosts), size):
            host = f"www.site{host_no:04d}.example"
            url = crawl.url(host, "syndicated")
            ts = crawl.timestamp(url)
            crawl.page(url, ts, render(crawl.template(host),
                                       edited(rng, lex, article, topic, 0.01)))
            members.append(urim_of(url, ts))
        crawl.groups.append(members)
        groups.append((topic, article, members))
        grouped += size
    while len(crawl.rows) < n_pages:
        host = crawl.host(n_hosts)
        url = crawl.url(host)
        ts = None
        for _ in range(rng.choices((1, 2, 3), weights=(6, 3, 1))[0]):
            # a re-crawl of the same url serves different content (a
            # front page or listing that changed between captures)
            ts = crawl.timestamp(url, after=ts)
            crawl.page(url, ts, render(crawl.template(host),
                                       lex.article(rng, rng.randrange(TOPICS))))
    return groups


def _duplicate_rows(crawl: _Crawl, share: float) -> None:
    """Repeat a few rows verbatim (overlapping WARC globs)."""
    for row in crawl.rng.sample(crawl.rows, max(1, round(share * len(crawl.rows)))):
        crawl.rows.append(dict(row))
        crawl.duplicate_keys.append([row["url"], row["warc_ts"].isoformat()])


def _neardup_crawl(crawl: _Crawl, scale: float) -> dict:
    n_pages = max(40, round(SIZES["neardup_crawl"]["pages"] * scale))
    _crawl_pages(crawl, n_pages, n_hosts=max(25, n_pages // 20))
    _duplicate_rows(crawl, 0.005)
    crawl.rng.shuffle(crawl.rows)
    return {}


def _ingest_promote(crawl: _Crawl, scale: float, out_dir: str) -> dict:
    rng, lex = crawl.rng, crawl.lexicon
    size = SIZES["ingest_promote"]
    n_base = max(40, round(size["base_pages"] * scale))
    n_delta = max(10, round(size["delta_pages"] * scale))
    n_hosts = max(25, n_base // 20)
    groups = _crawl_pages(crawl, n_base, n_hosts)
    base_rows = crawl.rows
    rng.shuffle(base_rows)
    deltas = []
    for d in range(size["deltas"]):
        crawl.rows = []
        while len(crawl.rows) < n_delta:
            kind = rng.random()
            if kind < 0.2:
                # another mirror of a planted group, on a new url
                topic, article, members = rng.choice(groups)
                host = crawl.host(n_hosts)
                url = crawl.url(host, "syndicated")
                ts = crawl.timestamp(url)
                crawl.page(url, ts, render(crawl.template(host), edited(
                    rng, lex, article, topic, 0.01)))
                members.append(urim_of(url, ts))
            elif kind < 0.3:
                # a re-crawl of a base page: same url, later capture, the
                # same article lightly edited — a planted pair
                src = rng.choice(base_rows)
                ts = crawl.timestamp(src["url"], after=src["warc_ts"])
                html = src["html"].replace(b"<p>", b"<p>Updated. ", 1)
                crawl.page(src["url"], ts, html)
                pair = [urim_of(src["url"], src["warc_ts"]),
                        urim_of(src["url"], ts)]
                for group in crawl.groups:
                    if pair[0] in group:
                        group.append(pair[1])
                        break
                else:
                    crawl.groups.append(pair)
            elif kind < 0.35:
                # a base page sent again under its own key (re-ingest)
                src = rng.choice(base_rows)
                crawl.rows.append(dict(src))
                crawl.duplicate_keys.append(
                    [src["url"], src["warc_ts"].isoformat()])
            else:
                host = crawl.host(n_hosts)
                url = crawl.url(host)
                crawl.page(url, crawl.timestamp(url), render(
                    crawl.template(host),
                    lex.article(rng, rng.randrange(TOPICS))))
        write_warc(crawl.rows, os.path.join(out_dir, f"delta-{d}",
                                            "batch.warc.gz"))
        deltas.append(len(crawl.rows))
    crawl.rows = base_rows
    return {"delta_pages": deltas}


def generate(workload: str, seed: int, out_dir: str,
             scale: float = 1.0) -> dict:
    """Write ``out_dir/pages`` (parquet), any WARC deltas and
    ``out_dir/truth.json``; return the truth dict."""
    crawl = _Crawl(workload, seed)
    os.makedirs(out_dir, exist_ok=True)
    if workload == "offtopic_timelines":
        extra = _offtopic_timelines(crawl, scale)
    elif workload == "neardup_crawl":
        extra = _neardup_crawl(crawl, scale)
    elif workload == "ingest_promote":
        extra = _ingest_promote(crawl, scale, out_dir)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    _write_pages(crawl.rows, os.path.join(out_dir, "pages"))
    truth = crawl.truth(workload, seed, {
        "pages": len(crawl.rows),
        "html_bytes": sum(len(r["html"]) for r in crawl.rows),
        **extra,
    })
    with open(os.path.join(out_dir, "truth.json"), "w") as fh:
        json.dump(truth, fh, indent=1, sort_keys=True)
    return truth


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit("usage: corpus.py <workload> <seed> <out_dir>")
    summary = generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
    print(json.dumps({k: v for k, v in summary.items()
                      if not isinstance(v, list)}))
