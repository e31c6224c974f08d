"""Seeded input generator for the benchmark workloads.

Everything the program reads is written here, from one ``numpy`` generator
seeded with the workload seed: Takeout ``watch-history.json`` imports, the
seed rows of the ``history`` table, JSON-lines info-dict files and the ten
analytic tables of the query mix. The generator also records what a
correct program must produce where it is known in advance (the history key
set, the archive's tables, the ``q_dedup_fuzzy`` pairs); ``checks.py``
compares against those records and, for the other queries, against DuckDB.

Inputs are single-threaded and made between timed steps, so generation
never overlaps a measurement.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: YouTube's id alphabet; an 11-character id carries 66 bits.
ID_ALPHABET = np.array(list("0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz_-"))
_ID_MULT = np.uint64(0x9E3779B97F4A7C15)  # odd, so n -> n * mult is a bijection mod 2**64


def video_ids(numbers: np.ndarray, salt: int) -> np.ndarray:
    """Distinct integers -> distinct valid 11-character ids (a bijection
    on uint64 followed by base-64 digits), scrambled so ids look random."""
    x = (numbers.astype(np.uint64) + np.uint64(salt)) * _ID_MULT
    digits = np.stack([(x >> np.uint64(6 * j)) & np.uint64(63) for j in range(11)], axis=1)
    return np.ascontiguousarray(ID_ALPHABET[digits.astype(np.int64)]).view("<U11").ravel()


def key_hash(video: str, micros: int) -> int:
    """Order-independent digest term of one ``(video, watched)`` key; the
    check recomputes it in Spark as the first 10 hex digits of
    ``md5(video || '|' || unix_micros(watched))``."""
    return int(hashlib.md5(f"{video}|{micros}".encode()).hexdigest()[:10], 16)


def zipf_probs(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


# ---------------------------------------------------------------------------
# ingest_history: a seed table and a sequence of Takeout imports
# ---------------------------------------------------------------------------


class TakeoutGenerator:
    """Watch history of one heavy user. The seed table holds ``seed_rows``
    keys; each import holds ``import_rows`` entries of which about 25% are
    already archived, 5% duplicate another entry of the same file and 2%
    have no ``titleUrl`` (removed videos)."""

    OLD, DUP, UNAVAILABLE = 0.25, 0.05, 0.02

    def __init__(self, seed: int, out_dir: str, seed_rows: int, import_rows: int):
        self.rng = np.random.default_rng([seed, 1])
        self.out_dir = out_dir
        self.import_rows = import_rows
        self.pool = video_ids(np.arange(max(seed_rows // 4, 1000)), salt=seed)
        self.pool_p = zipf_probs(len(self.pool), 0.8)
        self.clock_ms = 1_420_070_400_000  # 2015-01-01T00:00:00Z
        self.n_imports = 0
        os.makedirs(out_dir, exist_ok=True)
        self.seed_video, self.seed_ms = self._fresh(seed_rows)
        self.expected_count = seed_rows
        self.expected_digest = sum(
            key_hash(v, m * 1000) for v, m in zip(self.seed_video.tolist(), self.seed_ms.tolist())
        )

    def _fresh(self, n: int) -> tuple[np.ndarray, np.ndarray]:
        """``n`` never-seen keys: Zipf-chosen videos at strictly increasing
        millisecond times, so every key is distinct."""
        gaps = self.rng.integers(20_000, 900_000, size=n)
        ms = self.clock_ms + np.cumsum(gaps)
        self.clock_ms = int(ms[-1])
        return self.rng.choice(self.pool, size=n, p=self.pool_p), ms

    def write_seed(self) -> str:
        """The seed rows as Parquet, for the program's store to ingest."""
        path = os.path.join(self.out_dir, "seed_history.parquet")
        table = pa.table(
            {
                "history_id": pa.array(np.arange(len(self.seed_video), dtype=np.int64)),
                "video": pa.array(self.seed_video),
                "watched": pa.array(self.seed_ms * 1000, type=pa.timestamp("us", tz="UTC")),
            }
        )
        pq.write_table(table, path)
        return path

    def next_import(self) -> str:
        """Write the next ``watch-history.json`` and fold its novel keys
        into the expected table state."""
        m = self.import_rows
        n_unavail = round(m * self.UNAVAILABLE)
        n_dup = round(m * self.DUP)
        n_old = round(m * self.OLD)
        n_new = m - n_unavail - n_dup - n_old
        new_v, new_ms = self._fresh(n_new)
        old_i = self.rng.choice(len(self.seed_video), size=n_old, replace=False)
        video = np.concatenate([new_v, self.seed_video[old_i]])
        ms = np.concatenate([new_ms, self.seed_ms[old_i]])
        dup_i = self.rng.integers(0, len(video), size=n_dup)
        video = np.concatenate([video, video[dup_i]])
        ms = np.concatenate([ms, ms[dup_i]])
        gone_ms = self.rng.integers(1_420_070_400_000, self.clock_ms, size=n_unavail)
        times = np.datetime_as_string(np.concatenate([ms, gone_ms]).astype("datetime64[ms]"), unit="ms")

        entries = [
            '{"header":"YouTube","title":"Watched video %s",'
            '"titleUrl":"https://www.youtube.com/watch?v=%s",'
            '"subtitles":[{"name":"Channel","url":"https://www.youtube.com/channel/UC%s"}],'
            '"time":"%sZ","products":["YouTube"],"activityControls":["YouTube watch history"]}'
            % (v, v, v, t)
            for v, t in zip(video.tolist(), times[: len(video)].tolist())
        ]
        entries += [
            '{"header":"YouTube","title":"Watched a video that has been removed",'
            '"time":"%sZ","products":["YouTube"],"activityControls":["YouTube watch history"]}' % t
            for t in times[len(video):].tolist()
        ]
        order = self.rng.permutation(len(entries))
        path = os.path.join(self.out_dir, f"watch-history-{self.n_imports:04d}.json")
        with open(path, "w") as f:
            f.write("[\n" + ",\n".join(entries[i] for i in order) + "\n]\n")
        self.n_imports += 1
        self.expected_count += n_new
        self.expected_digest += sum(
            key_hash(v, t * 1000) for v, t in zip(new_v.tolist(), new_ms.tolist())
        )
        return path


# ---------------------------------------------------------------------------
# archive_stream: JSON-lines info-dict files
# ---------------------------------------------------------------------------


class InfoDictGenerator:
    """yt-dlp info-dicts, 8 comments and 4
    tags per video, channels drawn Zipf-skewed, about 10% re-archived ids
    (exact copies of a record from an earlier file) and about 2% invalid
    ids that the program must archive as lost stubs."""

    COMMENTS, TAGS, REARCHIVED, INVALID = 8, 4, 0.10, 0.02
    WORDS = np.array(
        "archive video stream music live news guide review tutorial game "
        "travel cooking science history talk podcast short clip trailer remix".split()
    )

    def __init__(self, seed: int, out_dir: str):
        self.rng = np.random.default_rng([seed, 2])
        self.seed = seed
        self.out_dir = out_dir
        n_channels, n_users, n_tags = 2000, 20000, 3000
        self.channels = video_ids(np.arange(n_channels), salt=seed + 11)
        self.channel_p = zipf_probs(n_channels, 1.1)
        self.users = video_ids(np.arange(n_users), salt=seed + 13)
        self.user_p = zipf_probs(n_users, 0.9)
        self.tags = np.array([f"tag{i}" for i in range(n_tags)])
        self.tag_p = zipf_probs(n_tags, 1.0)
        self.next_video = 0
        self.next_comment = 0
        self.next_invalid = 0
        self.n_files = 0
        self.archived: list[str] = []  # JSON lines of valid records already written
        self.expected = {
            "videos": set(),
            "lost": set(),
            "users": set(),
            "channels": set(),
            "tags": set(),
            "video_tags": set(),
            "comments": set(),
        }
        os.makedirs(out_dir, exist_ok=True)

    def _record(self, vid: str, ch: str, tags: list[str], authors: list[str]) -> tuple[dict, dict]:
        rng = self.rng
        cids = video_ids(np.arange(self.next_comment, self.next_comment + self.COMMENTS), salt=self.seed + 17)
        self.next_comment += self.COMMENTS
        title = " ".join(rng.choice(self.WORDS, size=5).tolist())
        comments = [
            {
                "id": "Ugz" + cids[k],
                "author_id": "UC" + authors[k],
                "author": "user " + authors[k],
                "text": " ".join(rng.choice(self.WORDS, size=12).tolist()),
                "like_count": int(rng.integers(0, 5000)),
                "is_favorited": bool(rng.random() < 0.05),
                "author_is_uploader": bool(k == 0),
                "parent": "root" if k < 3 else "Ugz" + cids[int(rng.integers(0, 3))],
                "timestamp": int(1_600_000_000 + rng.integers(0, 10**8)),
            }
            for k in range(self.COMMENTS)
        ]
        rec = {
            "id": vid,
            "fulltitle": title,
            "description": (title + ". ") * 8,
            "channel_id": "UC" + ch,
            "channel": "channel " + ch,
            "uploader": "uploader " + ch,
            "uploader_id": "@" + ch,
            "channel_url": "https://www.youtube.com/channel/UC" + ch,
            "channel_follower_count": int(rng.integers(0, 10**7)),
            "thumbnail": f"https://i.ytimg.com/vi/{vid}/maxresdefault.jpg?sqp=-oaymwE",
            "duration": int(rng.integers(10, 7200)),
            "view_count": int(rng.integers(0, 10**8)),
            "like_count": int(rng.integers(0, 10**6)),
            "age_limit": 0,
            "live_status": "not_live",
            "upload_date": f"20{rng.integers(10, 24):02d}{rng.integers(1, 13):02d}{rng.integers(1, 29):02d}",
            "availability": None,
            "width": 1920,
            "height": 1080,
            "fps": 30.0,
            "audio_channels": 2,
            "categories": ["Entertainment"],
            "tags": tags,
            "filesize_approx": int(rng.integers(10**6, 10**9)),
            "comments": comments,
            "ryd_likes": None,
            "ryd_dislikes": int(rng.integers(0, 10**4)),
            "ryd_rating": round(float(rng.uniform(1, 5)), 3),
            "ryd_viewCount": None,
        }
        keys = {
            "users": {"@" + ch, *("UC" + a for a in authors)},
            "channels": {"UC" + ch},
            "tags": set(tags),
            "video_tags": {(vid, t) for t in tags},
            "comments": {c["id"] for c in comments},
        }
        return rec, keys

    def next_file(self, in_dir: str, n: int) -> str:
        """Write the next info-dict file of ``n`` records into ``in_dir``
        and fold what a correct archive gains from it into the expectation."""
        n_invalid = round(n * self.INVALID)
        n_old = min(round(n * self.REARCHIVED), len(self.archived))
        n_new = n - n_invalid - n_old
        ids = video_ids(np.arange(self.next_video, self.next_video + n_new), salt=self.seed + 7)
        self.next_video += n_new
        lines = []
        exp = self.expected
        chans = self.rng.choice(self.channels, size=n_new, p=self.channel_p).tolist()
        authors = self.rng.choice(self.users, size=(n_new, self.COMMENTS), p=self.user_p).tolist()
        tag_draws = self.rng.choice(self.tags, size=(n_new, 4 * self.TAGS), p=self.tag_p).tolist()
        for i, vid in enumerate(ids.tolist()):
            tags = list(dict.fromkeys(tag_draws[i]))[: self.TAGS]  # distinct, Zipf-weighted
            rec, keys = self._record(vid, chans[i], tags, authors[i])
            line = json.dumps(rec, separators=(",", ":"))
            lines.append(line)
            self.archived.append(line)
            exp["videos"].add(vid)
            for table, ks in keys.items():
                exp[table] |= ks
        if n_old:
            lines += [self.archived[i] for i in self.rng.choice(len(self.archived) - n_new, size=n_old, replace=False)]
        for _ in range(n_invalid):
            bad = f"bad!{self.seed % 1000:03d}{self.next_invalid:04d}"  # '!' fails the id check
            self.next_invalid += 1
            exp["lost"].add(bad)
            lines.append(json.dumps({"id": bad, "fulltitle": None, "comments": [], "tags": []}))
        order = self.rng.permutation(len(lines))
        name = f"infodicts-{self.n_files:04d}.json"
        tmp = os.path.join(self.out_dir, name)
        with open(tmp, "w") as f:
            f.write("\n".join(lines[i] for i in order) + "\n")
        self.n_files += 1
        dest = os.path.join(in_dir, name)
        os.replace(tmp, dest)  # atomic: the file source never sees a partial file
        return dest

    def expected_counts(self) -> dict[str, int]:
        e = self.expected
        return {
            "users": len(e["users"]),
            "channels": len(e["channels"]),
            "tags": len(e["tags"]),
            "video_tags": len(e["video_tags"]),
            "comments": len(e["comments"]),
            "videos": len(e["videos"]) + len(e["lost"]),
            "lost": len(e["lost"]),
        }


# ---------------------------------------------------------------------------
# query_mix: TPC-H-shaped star schema plus events, documents, embeddings
# ---------------------------------------------------------------------------

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings")
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["click", "view", "purchase", "error", "scroll"]


def _words(n: int) -> np.ndarray:
    """``n`` distinct four-letter lowercase pseudo-words (n <= 26**4)."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    x = np.arange(n) * 7919 % 26**4  # 7919 is coprime to 26**4: distinct words
    digits = np.stack([x // 26**j % 26 for j in range(4)], axis=1)
    return np.ascontiguousarray(letters[digits]).view("<U4").ravel()


def write_analytic_tables(seed: int, out_dir: str, scale: int = 1) -> dict:
    """The ten query-mix tables, ``scale`` = 1 matching the row counts of
    TPC-H SF 0.01 (60k lineitems). Prices are whole dollars and discounts
    whole percents, so every rounded sum has an exact two-decimal value and
    the engines cannot round a half-cent tie differently.

    Returns the recorded result of ``q_dedup_fuzzy``: documents come in
    groups sharing one token set (Jaccard 1, so MinHash-LSH must pair them)
    and are otherwise drawn from a 20k-word vocabulary (Jaccard near 0)."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = 1500 * scale, 100 * scale, 2000 * scale
    n_ord, n_line, n_ev, n_doc, n_emb = 15000 * scale, 60000 * scale, 10000 * scale, 500 * scale, 500 * scale
    i32, i64 = pa.int32(), pa.int64()

    def put(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    def days(lo, hi, n):
        base = np.datetime64(lo, "D")
        span = (np.datetime64(hi, "D") - base).astype(int)
        return pa.array((base + rng.integers(0, span, n)).astype("datetime64[us]"))

    put("region", {"r_regionkey": pa.array(np.arange(5), i32), "r_name": REGIONS})
    put(
        "nation",
        {
            "n_nationkey": pa.array(np.arange(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, i32),
        },
    )
    put(
        "customer",
        {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        },
    )
    put(
        "supplier",
        {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
        },
    )
    put(
        "part",
        {
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": [f"part {i}" for i in range(n_part)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(["ECONOMY", "STANDARD", "PROMO", "LARGE"])[rng.integers(0, 4, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": rng.integers(900, 2000, n_part).astype(float),
        },
    )
    put(
        "orders",
        {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": rng.integers(1000, 500000, n_ord).astype(float),
            "o_orderdate": days("1992-01-01", "1998-12-31", n_ord),
            "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
                rng.integers(0, 5, n_ord)
            ],
        },
    )
    qty = rng.integers(1, 51, n_line)
    put(
        "lineitem",
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": qty.astype(float),
            "l_extendedprice": (qty * rng.integers(900, 2000, n_line)).astype(float),
            "l_discount": rng.integers(0, 11, n_line) / 100,
            "l_tax": rng.integers(0, 9, n_line) / 100,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": days("1992-01-01", "2001-12-31", n_line),
        },
    )
    ev_us = np.datetime64("2024-01-01", "us") + np.cumsum(rng.integers(1, 60_000_000, n_ev))
    put(
        "events",
        {
            "event_id": pa.array(np.arange(n_ev), i64),
            "ts": pa.array(ev_us.astype("datetime64[us]")),
            "user_id": pa.array(rng.integers(0, n_cust // 10, n_ev), i64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": rng.integers(0, 10000, n_ev) / 100,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        },
    )

    vocab = _words(20000)
    texts: list[str] = []
    group_of: list[int] = []
    group = 0
    while len(texts) < n_doc:
        toks = rng.choice(vocab, size=int(rng.integers(20, 60)), replace=False)
        copies = int(rng.choice([1, 1, 1, 2, 3]))
        for c in range(copies):
            if c == 0 or rng.random() < 0.3:
                words = toks  # an exact copy
            else:  # same token set: reordered, some tokens repeated
                words = np.concatenate([rng.permutation(toks), rng.choice(toks, size=5)])
            texts.append(" ".join(words.tolist()))
            group_of.append(group)
        group += 1
    texts, group_of = texts[:n_doc], group_of[:n_doc]
    put(
        "documents",
        {
            "doc_id": pa.array(np.arange(n_doc), i64),
            "text": texts,
            "lang": np.array(["en", "de", "fr", "es"])[rng.integers(0, 4, n_doc)],
            "source": [f"src{s}" for s in rng.integers(0, 8, n_doc)],
            "n_chars": pa.array([len(t) for t in texts], i64),
        },
    )
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = (centers[labels] + rng.normal(scale=0.8, size=(n_emb, 64))).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    put(
        "embeddings",
        {
            "vec_id": pa.array(np.arange(n_emb), i64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels, i32),
        },
    )

    members: dict[int, list[int]] = {}
    for doc, g in enumerate(group_of):
        members.setdefault(g, []).append(doc)
    pairs = sorted(p for ids in members.values() for p in itertools.combinations(ids, 2))
    return {"q_dedup_fuzzy": {"pairs": len(pairs), "digest": pair_digest(pairs)}}


def pair_digest(pairs) -> str:
    """Digest of a sorted ``(id_a, id_b)`` pair list."""
    return hashlib.md5(";".join(f"{a},{b}" for a, b in pairs).encode()).hexdigest()
