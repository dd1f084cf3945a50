"""Seeded input generators for the benchmark workloads.

This module is the load generator: it runs before the system under test
starts, writes every input the program reads as plain files, and writes the
expectations the output checks compare against. The expectations are
computed here from the generator's own ground truth (naming rules, digests,
latest crawl per page) and never by the sink code. The same seed gives
byte-identical files.

    python3 perfbench/gen.py --workload sink_stream --seed 1 --out DIR
"""

import argparse
import hashlib
import json
import os

import numpy as np

# Workload sizes: one backlog file is one trigger, and a drain consumes the
# whole backlog, so these fix the work per drain. Changing them changes every
# metric; do it only in a change that re-measures the baseline.
SINK = dict(topics=("orders", "clicks"), partitions=8, files=8,
            records_per_file=1200, keys=20000,
            max_records=100)
CRAWL = dict(pages=1500, files=5, records_per_file=150, partitions=8)

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
BASE_TS_MS = 1700000000000


def record_digest(topic, partition, offset, value):
    """64-bit share of one record in the order-free multiset digest."""
    h = hashlib.md5(f"{topic}\x1f{partition}\x1f{offset}\x1f{value}"
                    .encode()).digest()
    return int.from_bytes(h[:8], "big")


def zipf_weights(n, s):
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def words(rng, n):
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n))


def set_order(paths):
    """The file stream source admits files in modification-time order."""
    for i, p in enumerate(paths):
        t = BASE_TS_MS // 1000 + i
        os.utime(p, (t, t))


def backlog(out, files):
    """Paths of the backlog files: one file is one trigger's records."""
    d = os.path.join(out, "input")
    os.makedirs(d)
    return [os.path.join(d, f"b{i:04d}.json") for i in range(files)]


def write_lines(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r, separators=(",", ":")))
            f.write("\n")


# --------------------------------------------------------------- sink_stream

def gen_sink(rng, out):
    """Kafka-shaped records: 2 topics x 8 partitions, Zipf-skewed keys
    hashed to partitions (so partitions are skewed too), ~200-byte JSON
    values, two headers. One file is one trigger's worth of records."""
    c = SINK
    key_p = zipf_weights(c["keys"], 1.1)
    next_off = {}
    names, digest, count, payload = set(), 0, 0, 0
    events = ("view", "click", "cart", "buy")

    def make_file(path):
        nonlocal digest, count, payload
        n = c["records_per_file"]
        topics = rng.integers(0, len(c["topics"]), n)
        keys = rng.choice(c["keys"], n, p=key_p)
        rows = []
        for i in range(n):
            topic = c["topics"][topics[i]]
            key = f"user-{keys[i]}"
            part = int(hashlib.md5(key.encode()).hexdigest(), 16) % c["partitions"]
            off = next_off.get((topic, part), 0)
            next_off[(topic, part)] = off + 1
            value = json.dumps({
                "user": key, "event": events[rng.integers(0, 4)],
                "amount": round(float(rng.uniform(1, 500)), 2),
                "sku": f"sku-{rng.integers(0, 100000)}",
                "qty": int(rng.integers(1, 9)),
                "note": words(rng, int(rng.integers(14, 22)))},
                separators=(",", ":"))
            headers = [{"key": "trace", "value": f"{rng.integers(0, 2**40):010x}"},
                       {"key": "src", "value": "gen"}]
            rows.append({"topic": topic, "partition": part, "offset": off,
                         "timestamp": BASE_TS_MS + count * 7 + i,
                         "key": key, "value": value, "headers": headers})
        write_lines(path, rows)
        by_tp = {}
        for r in rows:
            by_tp.setdefault((r["topic"], r["partition"]), []).append(r["offset"])
            digest = (digest + record_digest(r["topic"], r["partition"],
                                             r["offset"], r["value"])) % 2**64
            payload += len(r["key"]) + len(r["value"]) + sum(
                len(h["key"]) + len(h["value"]) for h in r["headers"])
        count += n
        # reference naming: {{topic}}-{{partition}}-{{start_offset}}, one
        # object per file.max.records chunk, named by the chunk's first offset
        for (t, p), offs in by_tp.items():
            offs.sort()
            for s in range(0, len(offs), c["max_records"]):
                names.add(f"{t}-{p}-{offs[s]}.gz")

    paths = backlog(out, c["files"])
    for p in paths:
        make_file(p)
    set_order(paths)
    return {"records": count,
            "max_records": c["max_records"], "payload_bytes": payload,
            "digest": str(digest), "names": sorted(names)}


# -------------------------------------------------------------- crawl_stream

def canonical_url(pid):
    scheme = "https" if pid % 3 else "http"
    params = sorted([f"id={pid}", f"lang={('en', 'de', 'fr')[pid % 3]}",
                     f"ref={pid % 17}"])
    return f"{scheme}://site{pid % 40}.example/Docs/{pid}?" + "&".join(params)


def crawled_url(rng, pid):
    """One crawl's spelling of the page URL: host case, default port,
    parameter order and fragment vary; the canonical form does not."""
    canon = canonical_url(pid)
    prefix, rest = canon.split("/Docs/", 1)
    path, query = rest.split("?", 1)
    if rng.random() < 0.5:
        prefix = prefix.upper()
    if rng.random() < 0.5:
        prefix += ":443" if prefix.lower().startswith("https") else ":80"
    params = query.split("&")
    rng.shuffle(params)
    url = f"{prefix}/Docs/{path}?" + "&".join(params)
    if rng.random() < 0.3:
        url += f"#s{rng.integers(0, 99)}"
    return url


def page_html(rng, pid, crawl):
    body = words(rng, int(rng.integers(20, 120)))
    if rng.random() < 0.1:  # placeholder pages the C4 filter rejects
        body += " lorem ipsum dolor"
    pii = ""
    if rng.random() < 0.3:
        pii = f" mail user{pid}@site{pid % 40}.example or call 555-{rng.integers(100, 999)}-{rng.integers(1000, 9999)}"
    return (f"<html><head><script>var c={crawl} && p<{pid};</script>"
            f"<style>p{{color:#{pid % 10}}}</style></head><body>"
            f"<!-- crawl {crawl} --><h1 class=\"t\">Page {pid}</h1>\n"
            f"<p>{body}{pii} &amp; more&nbsp;text</p></body></html>")


def gen_crawl(rng, out):
    """Crawl pages with Zipf-skewed recrawls of the same canonical page.
    A page's crawls share a partition (the crawler keys on the page), so
    its latest crawl is its highest offset there."""
    c = CRAWL
    page_p = zipf_weights(c["pages"], 0.9)
    perm = rng.permutation(c["pages"])
    next_off = {}
    latest, crawls, payload = {}, 0, 0

    def make_file(path):
        nonlocal crawls, payload
        rows = []
        pids = perm[rng.choice(c["pages"], c["records_per_file"], p=page_p)]
        for pid in pids:
            pid = int(pid)
            part = pid % c["partitions"]
            off = next_off.get(part, 0)
            next_off[part] = off + 1
            crawl = crawls
            crawls += 1
            value = json.dumps({"crawl_id": crawl, "page_id": pid,
                                "url": crawled_url(rng, pid),
                                "html": page_html(rng, pid, crawl)},
                               separators=(",", ":"))
            rows.append({"topic": "crawl", "partition": part, "offset": off,
                         "timestamp": BASE_TS_MS + crawl, "key": f"page-{pid}",
                         "value": value, "headers": []})
            latest[pid] = crawl
            payload += len(value) + len(f"page-{pid}")
        write_lines(path, rows)

    paths = backlog(out, c["files"])
    for p in paths:
        make_file(p)
    set_order(paths)
    objects = {hashlib.md5(canonical_url(pid).encode()).hexdigest() + ".zst":
               {"url_canon": canonical_url(pid), "crawl_id": crawl}
               for pid, crawl in latest.items()}
    return {"records": crawls, "payload_bytes": payload, "objects": objects}


GENERATORS = {"sink_stream": gen_sink, "crawl_stream": gen_crawl}


def generate(workload, seed, out):
    os.makedirs(out)
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
    expect = GENERATORS[workload](rng, out)
    with open(os.path.join(out, "expect.json"), "w") as f:
        json.dump(expect, f)
    return expect


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.workload, a.seed, a.out)
