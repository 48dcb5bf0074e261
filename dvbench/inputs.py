"""Seeded benchmark inputs, cached on disk by seed, workload, CORPUS_VERSION
and EXTRACTOR_VERSION.

Page bytes come from the corpus's public ``corpus.make_page(url)``. A pool
of POOL_DOCS pages is generated once per CORPUS_VERSION; each seed draws
its pages from the pool, stratified so that every seed gets the pool's
share of each stratum: PDF or not, hot host or not, pages over 40 KB
(~2% of pages, ~14% of bytes) and PDFs under the AES-256 R6 handler,
whose key derivation costs ~0.6 s a doc. Left to chance, the count of
those few R6 PDFs alone swings a run's throughput by a third. The program
never sees the seed. Nothing is written under the repository's ``data/``;
the cache lives in the benchmark's own work directory.

Per workload the cache entry holds:

- crawl:   ``pages/``                 the pages table to extract
- recrawl: ``pages/``, ``base/``      the crawl pages plus ~10% new urls, and
                                      the committed table of the crawl pages

The curate chain's input (``curate_input``) is a seeded sample of an
extracted table with planted exact and near-duplicate copies.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import re
import shutil
import subprocess
import sys
import time
from binascii import crc32

# bump when the generated inputs change for a given seed
INPUT_VERSION = 3

POOL_DOCS = 24000
CRAWL_DOCS = 2400
RECRAWL_NEW_FRAC = 0.10
CURATE_DOCS = 600
# exact and near copies each ~5% of the curate input, so ~10% of it is
# planted duplicates
PLANT_EXACT_FRAC = 0.055
PLANT_NEAR_FRAC = 0.055
# planted near copies must be found by minhash_lsh_pairs at jaccard 0.8
NEAR_JACCARD_MIN, NEAR_JACCARD_MAX = 0.85, 0.97
# shares of a doc's words a near copy rewrites, tried in order
NEAR_EDIT_SHARES = (0.02, 0.01, 0.04)
HOT_HOST_SHARE = 0.30
LARGE_BYTES = 40_000
N_BUCKETS = 16
# seed entries kept besides the one in use; each is 10-35 MB (the pool,
# ~110 MB, is kept apart)
CACHE_KEEP = 12

_HOST_RE = re.compile(r"^[a-z]+://([^/:?#]+)")
_WORD_RE = re.compile(r"[A-Za-z]{5,}")


def pool_urls(n: int) -> list[str]:
    """n distinct urls; HOSTS[0] gets ~30% of them, like corpus.gen_urls."""
    from docvision_spark.corpus import HOSTS

    urls = []
    for i in range(n):
        h = hashlib.sha3_256(f"dvbench-pool-{i}".encode()).digest()
        if h[0] / 255.0 < HOT_HOST_SHARE:
            host = HOSTS[0]
        else:
            host = HOSTS[1 + h[1] % (len(HOSTS) - 1)]
        urls.append(f"https://{host}/b/{h[2:8].hex()}/{i}")
    return urls


def stratum(url: str, payload: bytes) -> str:
    """The stratum a page is drawn in: html, pdf or R6 pdf; over
    LARGE_BYTES or not; on the hot host or not."""
    from docvision_spark.corpus import HOSTS

    kind = "html"
    if payload[:5] == b"%PDF-":
        kind = "pdf-r6" if b"/R 6" in payload else "pdf"
    if len(payload) > LARGE_BYTES:
        kind += "-large"
    return kind + ("-hot" if _HOST_RE.match(url).group(1) == HOSTS[0] else "")


def _pages_schema():
    import pyarrow as pa

    return pa.schema([
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ])


def build_pool(path: str, procs: int) -> None:
    """POOL_DOCS pages from corpus.make_page, with their stratum, in one
    parquet file. ``procs`` child interpreters each write one contiguous
    shard of the urls; all are waited for, on every path out. (A
    multiprocessing pool would leave its resource tracker running past the
    end of the run.)"""
    import pyarrow.parquet as pq

    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    step = -(-POOL_DOCS // procs)
    shards = [os.path.join(tmp, f"shard-{i:03d}.parquet") for i in range(procs)]
    here = os.path.dirname(os.path.abspath(__file__))
    code = ("import sys; sys.path[:0] = sys.argv[1:3]; import inputs; "
            "inputs.build_shard(int(sys.argv[3]), int(sys.argv[4]), sys.argv[5])")
    children = []
    try:
        for i, shard in enumerate(shards):
            children.append(subprocess.Popen(
                [sys.executable, "-c", code, here, os.getcwd(),
                 str(i * step), str(min(POOL_DOCS, (i + 1) * step)), shard],
                stdin=subprocess.DEVNULL))
        codes = [c.wait() for c in children]
    finally:
        for c in children:
            if c.poll() is None:
                c.kill()
            c.wait()
    if any(codes):
        raise RuntimeError(f"pool shard builders exited with {codes}")
    with pq.ParquetWriter(path + ".part", pq.read_schema(shards[0])) as writer:
        for shard in shards:
            writer.write_table(pq.read_table(shard))
    shutil.rmtree(tmp)
    os.replace(path + ".part", path)


def build_shard(lo: int, hi: int, out: str) -> None:
    """Pool pages lo..hi-1, in row groups of 2,000 pages."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from docvision_spark.corpus import make_page

    schema = _pages_schema().append(pa.field("stratum", pa.string()))
    urls = pool_urls(POOL_DOCS)[lo:hi]
    with pq.ParquetWriter(out, schema) as writer:
        for i in range(0, len(urls), 2000):
            writer.write_table(_records_table(
                [make_page(u) for u in urls[i:i + 2000]], schema))


def _records_table(recs: list, schema):
    import pyarrow as pa

    return pa.Table.from_pydict({
        "url": [r.url for r in recs],
        "warc_ts": [r.warc_ts for r in recs],
        "html": [r.html for r in recs],
        "text": [r.text for r in recs],
        "lang": [r.lang for r in recs],
        "stratum": [stratum(r.url, r.html) for r in recs],
    }, schema=schema)


def stratified_sample(strata: list[str], n: int, rng: random.Random,
                      exclude: frozenset[int] = frozenset()) -> list[int]:
    """n pool indices, outside ``exclude``, with each stratum's count set
    by its share of the whole pool (largest remainder)."""
    members: dict[str, list[int]] = {}
    for i, s in enumerate(strata):
        members.setdefault(s, [])
        if i not in exclude:
            members[s].append(i)
    exact = {s: n * strata.count(s) / len(strata) for s in members}
    quota = {s: int(q) for s, q in exact.items()}
    for s in sorted(exact, key=lambda s: (quota[s] - exact[s], s))[:n - sum(quota.values())]:
        quota[s] += 1
    idx: list[int] = []
    for s in sorted(members):
        idx += rng.sample(members[s], quota[s])
    return sorted(idx)


def write_pages(table, out_dir: str) -> None:
    """The corpus's on-disk layout: bucket=N/part-0.parquet, url-sorted,
    8 row groups per file so the scan splits to the core count."""
    import pyarrow.parquet as pq

    table = table.select(_pages_schema().names).sort_by("url")
    buckets = [crc32(u.encode("utf-8")) % N_BUCKETS
               for u in table.column("url").to_pylist()]
    for bucket in sorted(set(buckets)):
        part = table.take([i for i, b in enumerate(buckets) if b == bucket])
        d = os.path.join(out_dir, f"bucket={bucket}")
        os.makedirs(d, exist_ok=True)
        pq.write_table(part, os.path.join(d, "part-0.parquet"),
                       row_group_size=max(64, -(-part.num_rows // 8)))


def table_files(table_dir: str) -> list[str]:
    """Absolute paths of the files in a table's current snapshot."""
    from docvision_spark.pipeline.snapshots import read_manifest

    m = read_manifest(table_dir)
    if not m:
        return []
    return [os.path.join(table_dir, "data", rel) for rel in m["files"]]


def read_table_arrow(table_dir: str, columns: list[str] | None = None):
    import pyarrow as pa
    import pyarrow.parquet as pq

    return pa.concat_tables(
        pq.read_table(f, columns=columns) for f in table_files(table_dir))


def word_shingles(text: str, k: int = 3) -> set[tuple[str, ...]]:
    """Word k-shingles of the lowercased, whitespace-split text (the
    non-CJK form of functions.dedup.word_shingles)."""
    toks = text.lower().split()
    if len(toks) < k:
        return {tuple(toks)}
    return {tuple(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = word_shingles(a), word_shingles(b)
    return len(sa & sb) / len(sa | sb)


def _rot(word: str) -> str:
    """Same-length letter rotation: changes the token, not its length."""
    return "".join(
        chr((ord(c) - base + 1) % 26 + base)
        for c in word
        for base in [ord("a") if c.islower() else ord("A")])


def _near_copy(text: str, frequent: set[str], rng: random.Random,
               stopwords: frozenset[str], share: float) -> str | None:
    """Rewrite ``share`` of the doc's words in place. Only whole ascii words
    of 5+ letters that are no stopword (so quality features stay equal) in
    lines the host does not repeat (so boilerplate stripping treats both
    docs alike) are rewritten, each to a same-length rotation, so spans
    stay valid."""
    spans = []
    pos = 0
    for ln in text.split("\n"):
        if ln not in frequent:
            spans += [(pos + m.start(), pos + m.end())
                      for m in re.finditer(r"\S+", ln)
                      if _WORD_RE.fullmatch(m.group())
                      and m.group().lower() not in stopwords]
        pos += len(ln) + 1
    n = max(1, round(share * len(text.split())))
    if len(spans) < n:
        return None
    out = list(text)
    for a, b in rng.sample(spans, n):
        out[a:b] = _rot(text[a:b])
    return "".join(out)


def plant_copies(extracted, seed: int):
    """Append planted exact and near copies to an extracted arrow table.

    Returns (table, planted) with planted = [{orig, copy, kind, jaccard}].
    Copy urls extend the original's url, so the original sorts first and
    the keep-lowest-url policies drop the copy."""
    import pyarrow as pa

    from docvision_spark.functions.text import LANG_STOPWORDS
    from docvision_spark.kernel.extract import sha3_id

    stopwords = frozenset(w for ws in LANG_STOPWORDS.values() for w in ws)
    rows = extracted.to_pylist()
    # host line census, as functions.boilerplate counts it (distinct per doc)
    census: dict[tuple[str, str], int] = {}
    for r in rows:
        if r["text"]:
            host = _HOST_RE.match(r["url"]).group(1)
            for ln in set(r["text"].split("\n")):
                census[(host, ln)] = census.get((host, ln), 0) + 1
    eligible = sorted(
        (r for r in rows
         if r["error"] is None and r["processing_mode"] == "html"
         and r["canonical_url"] is None
         and "noindex" not in (r["robots"] or "")
         and len(r["text"] or "") >= 400),
        key=lambda r: r["url"])
    rng = random.Random(seed)
    rng.shuffle(eligible)
    n_exact = round(PLANT_EXACT_FRAC * len(rows))
    n_near = round(PLANT_NEAR_FRAC * len(rows))
    copies, planted = [], []
    for r in eligible:
        if len(planted) == n_exact + n_near:
            break
        if len(planted) < n_exact:
            copies.append(dict(r, url=r["url"] + "-dup"))
            planted.append({"orig": r["url"], "copy": r["url"] + "-dup",
                            "kind": "exact", "jaccard": 1.0})
            continue
        host = _HOST_RE.match(r["url"]).group(1)
        frequent = {ln for ln in r["text"].split("\n")
                    if census[(host, ln)] > 1}
        text = next(
            (t for share in NEAR_EDIT_SHARES
             if (t := _near_copy(r["text"], frequent, rng, stopwords, share))
             and NEAR_JACCARD_MIN <= jaccard(r["text"], t) <= NEAR_JACCARD_MAX),
            None)
        if text is None:
            continue
        url = r["url"] + "-near"
        copies.append(dict(
            r, url=url, id=sha3_id(text), text=text,
            pages=[{"page_no": 1, "text": text, "markdown": r["markdown"]}]))
        planted.append({"orig": r["url"], "copy": url, "kind": "near",
                        "jaccard": round(jaccard(r["text"], text), 4)})
    if len(planted) < n_exact + n_near:
        raise RuntimeError(
            f"planted {len(planted)} of {n_exact + n_near} copies")
    table = pa.concat_tables([
        extracted, pa.Table.from_pylist(copies, schema=extracted.schema)])
    return table, planted


def curate_input(table_dir: str, seed: int, out_dir: str) -> list[dict]:
    """Write the curate chain's input: a seeded sample of CURATE_DOCS rows
    of an extracted table plus planted copies, in 8 files. Returns the
    planted copies."""
    import pyarrow.parquet as pq

    table = read_table_arrow(table_dir).sort_by("url")
    idx = sorted(random.Random(seed).sample(range(table.num_rows),
                                            min(CURATE_DOCS, table.num_rows)))
    table, planted = plant_copies(table.take(idx), seed)
    table = table.sort_by("url")
    os.makedirs(out_dir)
    step = -(-table.num_rows // 8)
    for i in range(8):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(out_dir, f"part-{i:03d}.parquet"),
                       row_group_size=128)
    return planted


def _cache_key(workload: str, seed: int) -> str:
    from docvision_spark import EXTRACTOR_VERSION
    from docvision_spark.corpus import CORPUS_VERSION

    ver = re.sub(r"[^A-Za-z0-9.]+", "-", EXTRACTOR_VERSION)
    return f"{workload}-s{seed}-c{CORPUS_VERSION}-e{ver}-i{INPUT_VERSION}"


def _evict(cache_root: str, keep: str, pool: str) -> None:
    """Drop pools of other versions and all but the CACHE_KEEP most
    recently used seed entries."""
    entries = []
    for e in os.listdir(cache_root):
        path = os.path.join(cache_root, e)
        if e.startswith("pool-") and e != pool:
            # other versions' pools, and the shard dirs of killed builds
            if os.path.isdir(path):
                shutil.rmtree(path, ignore_errors=True)
            else:
                os.remove(path)
        elif e != keep and not e.startswith("pool-"):
            entries.append(e)
    entries.sort(key=lambda e: os.path.getmtime(os.path.join(cache_root, e)))
    for e in entries[:max(0, len(entries) - CACHE_KEEP)]:
        shutil.rmtree(os.path.join(cache_root, e), ignore_errors=True)


class Inputs:
    """One workload's inputs for one seed; ``ensure`` builds them once."""

    def __init__(self, cache_root: str, workload: str, seed: int):
        from docvision_spark.corpus import CORPUS_VERSION

        self.workload = workload
        self.seed = seed
        self.cache_root = cache_root
        self.dir = os.path.join(cache_root, _cache_key(workload, seed))
        self.pool = os.path.join(
            cache_root, f"pool-c{CORPUS_VERSION}-i{INPUT_VERSION}.parquet")
        self.gen_s = 0.0
        self.cached = False

    def path(self, name: str) -> str:
        return os.path.join(self.dir, name)

    @property
    def meta(self) -> dict:
        with open(self.path("meta.json")) as f:
            return json.load(f)

    def ensure(self, spark_factory, procs: int) -> None:
        """Build the inputs if the cache lacks them. ``spark_factory()``
        returns a session, for the workloads whose inputs are extracted."""
        if os.path.exists(self.path("meta.json")):
            os.utime(self.dir)
            self.cached = True
            return
        t0 = time.perf_counter()
        os.makedirs(self.cache_root, exist_ok=True)
        if not os.path.exists(self.pool):
            build_pool(self.pool, procs)
        _evict(self.cache_root, os.path.basename(self.dir),
               os.path.basename(self.pool))
        tmp = self.dir + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        meta = self._build(tmp, spark_factory)
        meta.update(seed=self.seed, workload=self.workload)
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f)
        shutil.rmtree(self.dir, ignore_errors=True)
        os.replace(tmp, self.dir)
        self.gen_s = time.perf_counter() - t0

    def _build(self, d: str, spark_factory) -> dict:
        import pyarrow.parquet as pq

        from docvision_spark.pipeline.extract_job import run_extract_job

        strata = pq.read_table(self.pool, columns=["stratum"]).column(
            "stratum").to_pylist()
        base = stratified_sample(strata, CRAWL_DOCS,
                                 random.Random(f"dvbench-{self.seed}-base"))
        pool = pq.read_table(self.pool)
        if self.workload == "crawl":
            write_pages(pool.take(base), os.path.join(d, "pages"))
            return {"docs": len(base)}
        new = stratified_sample(strata, round(RECRAWL_NEW_FRAC * CRAWL_DOCS),
                                random.Random(f"dvbench-{self.seed}-new"),
                                exclude=frozenset(base))
        write_pages(pool.take(base), os.path.join(d, "base_pages"))
        write_pages(pool.take(sorted(base + new)), os.path.join(d, "pages"))
        summary = run_extract_job(spark_factory(), os.path.join(d, "base_pages"),
                                  os.path.join(d, "base"), resume=False)
        shutil.rmtree(os.path.join(d, "base_pages"))
        if summary["docs"] != len(base):
            raise RuntimeError(f"recrawl base committed {summary['docs']} "
                               f"of {len(base)} docs")
        return {"docs": len(base) + len(new), "base_docs": len(base),
                "new_urls": pool.take(new).column("url").to_pylist()}
