"""Seeded input generator for the pipeline benchmark.

Everything the benchmark feeds the engine is made here from one integer
seed, together with the ground truth the checks compare against. The
same seed always gives byte-identical files and the same truth.

Archive dumps (``make_archive``):

- an e621 DB-export CSV per scrape (29 positional columns), posts seen
  in a random subset of scrapes, with description edits, tag changes
  and md5 changes (a changed md5 is a file clash: the merged entity
  keeps only the newest file);
- an fa_indexer JSON directory per scrape (several files of
  ``{id: submission | null}``), with title, description and ordered
  keyword edits and some null entries;
- the second e621 scrape is delivered twice, as the reference's
  re-runs do, so the store holds exact duplicate snapshots until
  maintenance removes them.

Corpus (``make_corpus``): random-vocabulary documents that pass the
quality filter, low-quality junk documents that fail it, planted exact
copies, planted near-copies (a few tokens edited, shingle Jaccard well
above the dedup threshold) and far copies (many tokens edited, Jaccard
well below it, but often an LSH candidate).
"""

from __future__ import annotations

import csv
import hashlib
import json
import os
import random
from dataclasses import dataclass, field

# Column order of the e621 DB export (ingest/e621.py E621_COLUMNS).
E621_COLUMNS = [
    "post_id", "uploader_id", "created_at", "md5", "source", "rating",
    "image_width", "image_height", "tag_string", "locked_tags", "fav_count",
    "file_ext", "parent_id", "change_seq", "approver_id", "file_size",
    "comment_count", "description", "duration", "updated_at", "is_deleted",
    "is_pending", "is_flagged", "score", "up_score", "down_score",
    "is_rating_locked", "is_status_locked", "is_note_locked",
]

E621_SCANS = ["2022-07-13 00:00:00", "2022-08-13 00:00:00", "2022-09-13 00:00:00"]
FA_SCANS = ["2022-06-01 00:00:00", "2022-10-01 00:00:00"]
E621_CONTRIBUTOR = 1
FA_CONTRIBUTOR = 2
# Index into E621_SCANS of the scrape whose dump is delivered twice.
REDELIVERED_SCAN = 1

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")


def _words(rng: random.Random, n: int, lo: int = 3, hi: int = 9) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    out: set[str] = set()
    while len(out) < n:
        out.add("".join(rng.choice(letters) for _ in range(rng.randint(lo, hi))))
    return sorted(out)


def _sentence(rng: random.Random, vocab: list[str], n: int) -> str:
    return " ".join(rng.choice(vocab) for _ in range(n))


@dataclass
class Entity:
    """Newest state of one merged submission, as the engine must report it."""

    website_id: str
    site_id: str
    scans: list[str] = field(default_factory=list)
    description: str = ""
    title: str | None = None
    keywords: list[str] = field(default_factory=list)  # merged order
    md5: str | None = None  # newest md5 (e621 only)


@dataclass
class Archive:
    e621_dumps: list[tuple[str, str]]  # (csv path, scan datetime), re-delivery included
    fa_dumps: list[tuple[str, str]]  # (json dir, scan datetime)
    entities: dict[tuple[str, str], Entity]
    # md5 hex -> number of distinct snapshots whose file carries it
    md5_snapshots: dict[str, int]
    md5_entity: dict[str, str]
    snapshot_rows_delivered: int
    distinct_snapshots: int
    keyword_rows: int
    file_rows: int
    hash_rows: int
    # rows of all four store tables as delivered, before maintenance
    rows_delivered_all: int
    input_bytes: int


def make_archive(
    out_dir: str, seed: int, n_e621: int, n_fa: int, fa_files: int = 4
) -> Archive:
    rng = random.Random(f"archive-{seed}")
    vocab = _words(rng, 600)
    tags = _words(rng, 300, 4, 12)
    os.makedirs(out_dir, exist_ok=True)

    entities: dict[tuple[str, str], Entity] = {}
    md5_snapshots: dict[str, int] = {}
    md5_entity: dict[str, str] = {}
    keyword_rows = file_rows = hash_rows = 0
    delivered_all = 0

    # --- e621: one CSV per scrape -------------------------------------
    post_ids = rng.sample(range(10_000, 10_000 + 20 * n_e621), n_e621)
    rows_by_scan: list[list[list[str]]] = [[] for _ in E621_SCANS]
    for pid in post_ids:
        present = [rng.random() < 0.75 for _ in E621_SCANS]
        if not any(present):
            present[rng.randrange(len(E621_SCANS))] = True
        desc = _sentence(rng, vocab, rng.randint(5, 30))
        post_tags = rng.sample(tags, rng.randint(3, 10))
        md5 = hashlib.md5(f"{seed}-{pid}-0".encode()).hexdigest()
        ext = rng.choice(["png", "jpg", "gif"])
        uploader = str(rng.randint(1, 500))
        ent = Entity("e621", str(pid))
        for k, scan in enumerate(E621_SCANS):
            if k > 0:
                if rng.random() < 0.3:
                    desc = _sentence(rng, vocab, rng.randint(5, 30))
                if rng.random() < 0.3:
                    post_tags = rng.sample(tags, rng.randint(3, 10))
                if rng.random() < 0.15:
                    md5 = hashlib.md5(f"{seed}-{pid}-{k}".encode()).hexdigest()
            if not present[k]:
                continue
            rows_by_scan[k].append(_e621_row(rng, pid, uploader, md5, ext, post_tags, desc))
            ent.scans.append(scan)
            ent.description = desc
            ent.keywords = sorted(post_tags)
            ent.md5 = md5
            md5_snapshots[md5] = md5_snapshots.get(md5, 0) + 1
            md5_entity[md5] = str(pid)
            keyword_rows += len(post_tags)
            file_rows += 1
            hash_rows += 1
            copies = 2 if k == REDELIVERED_SCAN else 1
            delivered_all += copies * (3 + len(post_tags))  # snapshot, file, hash, keywords
        entities[("e621", str(pid))] = ent

    e621_dumps = []
    input_bytes = 0
    for k, scan in enumerate(E621_SCANS):
        path = os.path.join(out_dir, f"e621_scan{k}.csv")
        with open(path, "w", newline="") as fh:
            w = csv.writer(fh)
            w.writerow(E621_COLUMNS)
            w.writerows(rows_by_scan[k])
        e621_dumps.append((path, scan))
        input_bytes += os.path.getsize(path)
    redelivered = e621_dumps[REDELIVERED_SCAN]
    e621_dumps.append(redelivered)
    input_bytes += os.path.getsize(redelivered[0])
    rows_delivered = sum(len(r) for r in rows_by_scan) + len(rows_by_scan[REDELIVERED_SCAN])

    # --- fa_indexer: one JSON directory per scrape ----------------------
    sub_ids = rng.sample(range(1_000, 1_000 + 20 * n_fa), n_fa)
    fa_by_scan: list[dict[str, dict | None]] = [{} for _ in FA_SCANS]
    for sid in sub_ids:
        present = [rng.random() < 0.8 for _ in FA_SCANS]
        if not any(present):
            present[rng.randrange(len(FA_SCANS))] = True
        title = _sentence(rng, vocab, rng.randint(1, 4))
        desc = _sentence(rng, vocab, rng.randint(5, 30))
        kws = rng.sample(tags, rng.randint(2, 8))
        user = f"user{rng.randint(1, 300)}"
        filename = f"https://d.fa.net/art/{user}/{sid}.png"
        ent = Entity("fa", str(sid))
        for k, scan in enumerate(FA_SCANS):
            if k > 0:
                if rng.random() < 0.3:
                    title = _sentence(rng, vocab, rng.randint(1, 4))
                if rng.random() < 0.3:
                    desc = _sentence(rng, vocab, rng.randint(5, 30))
                if rng.random() < 0.3:
                    kws = rng.sample(tags, rng.randint(2, 8))
            if not present[k]:
                # the indexer records missing ids as null
                if rng.random() < 0.5:
                    fa_by_scan[k][str(sid)] = None
                continue
            fa_by_scan[k][str(sid)] = {
                "id": sid,
                "username": user,
                "title": title,
                "description": desc,
                "date": "2021-03-04T05:06:07Z",
                "rating": rng.choice(["general", "mature", "adult"]),
                "keywords": list(kws),
                "filename": filename,
            }
            ent.scans.append(scan)
            ent.description = desc
            ent.title = title
            ent.keywords = list(kws)  # ordered: ordinal = position
            keyword_rows += len(kws)
            file_rows += 1
            delivered_all += 2 + len(kws)  # snapshot, file, keywords
        entities[("fa", str(sid))] = ent

    fa_dumps = []
    for k, scan in enumerate(FA_SCANS):
        d = os.path.join(out_dir, f"fa_scan{k}")
        os.makedirs(d, exist_ok=True)
        items = sorted(fa_by_scan[k].items(), key=lambda kv: int(kv[0]))
        for i in range(fa_files):
            part = dict(items[i::fa_files])
            path = os.path.join(d, f"part{i:02d}.json")
            with open(path, "w") as fh:
                json.dump(part, fh, sort_keys=True)
            input_bytes += os.path.getsize(path)
        fa_dumps.append((d, scan))
    rows_delivered += sum(1 for s in fa_by_scan for v in s.values() if v is not None)

    distinct = sum(len(e.scans) for e in entities.values())
    return Archive(
        e621_dumps=e621_dumps,
        fa_dumps=fa_dumps,
        entities=entities,
        md5_snapshots=md5_snapshots,
        md5_entity=md5_entity,
        snapshot_rows_delivered=rows_delivered,
        distinct_snapshots=distinct,
        keyword_rows=keyword_rows,
        file_rows=file_rows,
        hash_rows=hash_rows,
        rows_delivered_all=delivered_all,
        input_bytes=input_bytes,
    )


def _e621_row(rng, pid, uploader, md5, ext, post_tags, desc) -> list[str]:
    return [
        str(pid), uploader, "2022-07-01T10:00:00Z", md5,
        f"https://src.example/{pid}", rng.choice("sqe"),
        str(rng.randint(100, 4000)), str(rng.randint(100, 4000)),
        " ".join(post_tags), "", str(rng.randint(0, 900)), ext, "",
        str(rng.randint(1, 10**6)), "", str(rng.randint(10**4, 10**7)),
        str(rng.randint(0, 40)), desc, "", "2022-07-02T10:00:00Z",
        "f", "f", "f", str(rng.randint(-5, 300)), str(rng.randint(0, 300)),
        str(-rng.randint(0, 20)), "f", "f", "f",
    ]


@dataclass
class Corpus:
    path: str  # JSON-lines file of {"doc_id", "text"}
    n_docs: int
    uniques: set[int]  # planted originals; all pass the quality filter
    exact_dups: set[int]  # copies of an original, byte-identical text
    near_dups: set[int]  # copies of an original with a few tokens edited
    # copies with many tokens edited: LSH often pairs them with their
    # original, but their Jaccard is below the threshold, so they stay
    far_copies: set[int]
    junk: set[int]  # low-quality documents the filter must drop
    input_bytes: int


def make_corpus(
    out_dir: str, seed: int, n_unique: int, n_exact: int, n_near: int, n_far: int, n_junk: int
) -> Corpus:
    rng = random.Random(f"corpus-{seed}")
    vocab = _words(rng, 4000)
    os.makedirs(out_dir, exist_ok=True)

    def doc() -> list[str]:
        toks = []
        for _ in range(rng.randint(120, 260)):
            toks.append(rng.choice(STOPWORDS) if rng.random() < 0.3 else rng.choice(vocab))
        return toks

    texts: dict[int, str] = {}
    originals: list[int] = []
    for _ in range(n_unique):
        i = len(texts)
        texts[i] = " ".join(doc())
        originals.append(i)
    exact, junk = set(), set()
    for src in rng.sample(originals, n_exact):
        i = len(texts)
        texts[i] = texts[src]
        exact.add(i)

    def edited_copy(src: int, share: float) -> int:
        toks = texts[src].split(" ")
        for pos in rng.sample(range(len(toks)), max(1, int(len(toks) * share))):
            toks[pos] = rng.choice(vocab)
        i = len(texts)
        texts[i] = " ".join(toks)
        return i

    # 3% of tokens replaced: 3-shingle Jaccard near 0.83; 15%: near 0.44.
    sources = rng.sample(originals, n_near + n_far)
    near = {edited_copy(src, 0.03) for src in sources[:n_near]}
    far = {edited_copy(src, 0.15) for src in sources[n_near:]}
    for _ in range(n_junk):
        i = len(texts)
        texts[i] = " ".join(
            "".join(rng.choice("#$%&*+=<>~^|") for _ in range(rng.randint(3, 8)))
            for _ in range(rng.randint(10, 40))
        )
        junk.add(i)

    # Every copy's id is above its original's: the dedup keeps the lowest id.
    path = os.path.join(out_dir, "corpus.jsonl")
    with open(path, "w") as fh:
        for i in texts:
            fh.write(json.dumps({"doc_id": i, "text": texts[i]}) + "\n")
    return Corpus(
        path=path,
        n_docs=len(texts),
        uniques=set(originals),
        exact_dups=exact,
        near_dups=near,
        far_copies=far,
        junk=junk,
        input_bytes=os.path.getsize(path),
    )
