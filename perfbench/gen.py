"""Seeded input generators, one per workload.

Each generator writes the inputs the program sees into a work directory
and returns a manifest: the exact counts the output checks compare the
program against. The same seed always gives the same inputs and the
same manifest; `digest` is a hash of the manifest.
"""

import hashlib
import json
import os
import random
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# ------------------------------------------------------------------ sizes
# Chosen so one run fits the benchmark's time budget on 4 cores; the
# notes file (README.md) gives the reasons.
FS_TREES = 2            # independent trees, one index cycle each
FS_FILES = 6000         # files per tree
FS_WARM_FILES = 1000    # warm-up tree (set-up)
FS_TOP_DIRS = 16        # each with FS_SUB_DIRS subdirectories
FS_SUB_DIRS = 8
FS_COLLIDE_SHARE = 0.05  # files whose size collides with another file's
FS_MODIFY, FS_CREATE, FS_DELETE = 0.02, 0.02, 0.01
FS_SAMPLE = 40          # files whose checksum is recomputed here

API_ROWS = 100_000
API_REQUESTS = 160      # distinct requests, cycled by the clients
API_WARM_REQUESTS = 10
API_MIN_OPS = 50        # requests a run sends at least: 10 rounds of the mix
# The request mix: one request of each kind in turn, equal weights. There
# is no record of how the server is used, so the weights are an
# assumption, not a measurement; the per-kind serve.<kind>_p50_ms figures
# of a traced run show each kind on its own.
API_MIX = ["search_offset", "search_keyset", "duplicates", "stats", "visualization"]

STREAM_COMPACT_EVERY = 3
STREAM_CHUNKS = [6]              # drops per AvailableNow run, untraced run
STREAM_TRACED_CHUNKS = [3] * 4   # traced run: untraced, traced, traced, untraced
STREAM_DROPS = max(sum(STREAM_CHUNKS), sum(STREAM_TRACED_CHUNKS))
STREAM_WARM_DROPS = 2
STREAM_DOCS_PER_DROP = 16
STREAM_WORDS = 60

EXTS = ["txt", "log", "csv", "json", "bin", "jpg", "png", "md"]
EPOCH = 1_600_000_000   # 2020-09-13, base of every generated mtime


def _digest(obj):
    return hashlib.sha256(json.dumps(obj, sort_keys=True).encode()).hexdigest()[:16]


# ---------------------------------------------------------------- fs_index

def _content(seed, key, size, block):
    head = hashlib.sha256(f"{seed}:{key}".encode()).digest()
    off = int.from_bytes(head[:4], "big") % (len(block) - size)
    return (head + block[off:off + size])[:size]


def _write(path, data, mtime):
    with open(path, "wb") as f:
        f.write(data)
    os.utime(path, (mtime, mtime))


def fs_tree_plan(seed, tree, n_files):
    """Pure plan of one tree: files, mutation and deleted subtree."""
    rng = random.Random(f"fs:{seed}:{tree}")
    dirs = []
    for t in range(FS_TOP_DIRS):
        dirs.append(f"d{t:02d}")
        dirs.extend(f"d{t:02d}/s{s}" for s in range(FS_SUB_DIRS))
    n_coll = round(n_files * FS_COLLIDE_SHARE)
    # collision groups of two files, half of them true duplicates
    n_groups = n_coll // 2
    n_coll = n_groups * 2
    n_unique = n_files - n_coll
    sizes = rng.sample(range(64, 32768), n_unique + n_groups)
    files = []  # [rel_dir, name, size, content key, mtime]
    for i in range(n_unique):
        files.append([rng.choice(dirs), f"f{i}.{rng.choice(EXTS)}", sizes[i], f"u{i}",
                      EPOCH + rng.randrange(86400 * 365)])
    dup_files = 0
    for g in range(n_groups):
        size = sizes[n_unique + g]
        same = g % 2 == 0
        for m in range(2):
            key = f"g{g}" if same else f"g{g}.{m}"
            files.append([rng.choice(dirs), f"c{g}_{m}.{rng.choice(EXTS)}", size, key,
                          EPOCH + rng.randrange(86400 * 365)])
        dup_files += 2 if same else 0
    idx = list(range(len(files)))
    rng.shuffle(idx)
    n_mod, n_new, n_del = (round(n_files * x) for x in (FS_MODIFY, FS_CREATE, FS_DELETE))
    modified = sorted(idx[:n_mod])
    deleted = sorted(idx[n_mod:n_mod + n_del])
    sample = sorted(idx[n_mod + n_del:n_mod + n_del + FS_SAMPLE])
    created = [[rng.choice(dirs), f"n{j}.{rng.choice(EXTS)}", rng.randrange(64, 32768),
                f"n{j}", EPOCH + 86400 * 400 + rng.randrange(86400)] for j in range(n_new)]
    # modified files: new content and size, a later mtime
    modify = [[i, rng.randrange(64, 32768), f"m{i}", files[i][4] + 86400 * 30]
              for i in modified]
    subtree = f"d{rng.randrange(FS_TOP_DIRS):02d}"
    return {"files": files, "modify": modify, "delete": deleted, "create": created,
            "subtree": subtree, "sample": sample, "n_coll": n_coll, "dup_files": dup_files}


def fs_expected(plan):
    files, n = plan["files"], len(plan["files"])
    n_mod, n_del, n_new = len(plan["modify"]), len(plan["delete"]), len(plan["create"])
    sub = plan["subtree"]

    def in_sub(d):
        return d == sub or d.startswith(sub + "/")
    # rows after the incremental run: every original file (deleted ones
    # are kept until cleanup) plus the created ones
    rows = [(f[0], f[1]) for f in files] + [(c[0], c[1]) for c in plan["create"]]
    deleted = {(files[i][0], files[i][1]) for i in plan["delete"]}
    dead = [r for r in rows if in_sub(r[0]) or r in deleted]
    dead_dirs = {r[0] for r in rows if in_sub(r[0])}
    return {
        "full": {"scanned": n, "inserted": n, "updated": 0, "unchanged": 0,
                 "checksummed": n, "hashErrors": 0, "rows": n},
        "two_phase": {"scanned": n, "inserted": n, "updated": 0, "unchanged": 0,
                      "checksummed": 0, "hashErrors": 0, "hashed": plan["n_coll"],
                      "rows": n, "shared_hashed": plan["dup_files"]},
        "incremental": {"scanned": n - n_del + n_new, "inserted": n_new, "updated": n_mod,
                        "unchanged": n - n_del - n_mod, "checksummed": n_new + n_mod,
                        "hashErrors": 0, "rows": n + n_new},
        "cleanup": {"totalChecked": n + n_new, "deletedFiles": len(dead),
                    "deletedDirectories": len(dead_dirs), "rows": n + n_new - len(dead)},
    }


def _fs_write_tree(seed, root, plan, block):
    for d in {f[0] for f in plan["files"]} | {c[0] for c in plan["create"]}:
        os.makedirs(os.path.join(root, d), exist_ok=True)

    def write(f):
        d, name, size, key, mtime = f
        _write(os.path.join(root, d, name), _content(seed, key, size, block), mtime)
    # creating a file is a system call that releases the GIL, so a few
    # threads write the tree several times faster than one
    with ThreadPoolExecutor(4) as pool:
        list(pool.map(write, plan["files"]))


def gen_fs_index(seed, work):
    rng = random.Random(f"fs-block:{seed}")
    block = rng.randbytes(1 << 20)
    spec = {"trees": [], "warm": None}
    manifest = {"trees": []}
    warm = fs_tree_plan(seed, "warm", FS_WARM_FILES)
    warm_root = os.path.join(work, "fs", "warm")
    _fs_write_tree(seed, warm_root, warm, block)
    spec["warm"] = {"root": warm_root, "index": os.path.join(work, "fs", "idx-warm")}
    for t in range(FS_TREES):
        plan = fs_tree_plan(seed, t, FS_FILES)
        root = os.path.join(work, "fs", f"tree{t}")
        stage = os.path.join(work, "fs", f"stage{t}")
        os.makedirs(stage, exist_ok=True)
        _fs_write_tree(seed, root, plan, block)
        moves = []
        for k, (i, size, key, mtime) in enumerate(plan["modify"]):
            src = os.path.join(stage, f"m{k}")
            _write(src, _content(seed, key, size, block), mtime)
            moves.append([src, os.path.join(root, plan["files"][i][0], plan["files"][i][1])])
        for k, (d, name, size, key, mtime) in enumerate(plan["create"]):
            src = os.path.join(stage, f"n{k}")
            _write(src, _content(seed, key, size, block), mtime)
            moves.append([src, os.path.join(root, d, name)])
        files = plan["files"]
        spec["trees"].append({
            "root": root, "index": os.path.join(work, "fs", f"idx{t}"),
            "moves": moves,
            "deletes": [os.path.join(root, files[i][0], files[i][1]) for i in plan["delete"]],
            "subtree": os.path.join(root, plan["subtree"]),
            "sample": [[os.path.join(root, files[i][0]), files[i][1]] for i in plan["sample"]],
        })
        exp = fs_expected(plan)
        exp["sample_sha256"] = [
            hashlib.sha256(_content(seed, files[i][3], files[i][2], block)).hexdigest()
            for i in plan["sample"]]
        exp["bytes"] = sum(f[2] for f in files)
        exp["plan_digest"] = _digest(plan)
        manifest["trees"].append(exp)
    return spec, manifest


# -------------------------------------------------------------- api_search

def api_rows(seed, n_rows):
    rng = random.Random(f"api:{seed}")
    paths, names, sums, mtimes, sizes = [], [], [], [], []
    words = ["report", "photo", "backup", "notes", "data", "draft", "scan", "mail"]
    i = 0
    n_dup = n_rows // 10
    while i < n_dup:  # duplicate groups: (checksum, size) shared by 2-4 rows
        k = min(rng.choice((2, 2, 2, 3, 4)), n_dup - i)
        c = "%032x" % rng.getrandbits(128)
        size = rng.randrange(1, 10_000_000)
        for _ in range(k):
            sums.append(c)
            sizes.append(size)
        i += k
    while i < n_rows:
        sums.append(None if rng.random() < 0.2 else "%032x" % rng.getrandbits(128))
        sizes.append(rng.randrange(1, 10_000_000))
        i += 1
    for j in range(n_rows):
        paths.append(f"/srv/p{rng.randrange(50):02d}/s{rng.randrange(20):02d}")
        names.append(f"{rng.choice(words)}{j}.{rng.choice(EXTS)}")
        mtimes.append((EPOCH + rng.randrange(86400 * 1500)) * 1_000_000)
    ts = pa.timestamp("us", tz="UTC")
    return pa.table({
        "path": pa.array(paths, pa.string()), "filename": pa.array(names, pa.string()),
        "checksum": pa.array(sums, pa.string()),
        "modification_datetime": pa.array(mtimes, ts),
        "file_size": pa.array(sizes, pa.int64()),
        "indexed_at": pa.array([(EPOCH + 86400 * 1600) * 1_000_000] * n_rows, ts),
    })


def _search_mask(t, req):
    m = pc.ends_with(t["filename"], "." + req["ext"]) if "ext" in req else None

    def conj(a, b):
        return b if a is None else pc.and_(a, b)
    if "top" in req:
        m = conj(m, pc.starts_with(t["path"], req["top"] + "/"))
    if "min_size" in req:
        m = conj(m, pc.greater_equal(t["file_size"], req["min_size"]))
    if "max_size" in req:
        m = conj(m, pc.less_equal(t["file_size"], req["max_size"]))
    if "has_checksum" in req:
        m = conj(m, pc.is_valid(t["checksum"]) if req["has_checksum"]
                 else pc.is_null(t["checksum"]))
    return m


def _search_query(req):
    q = {}
    if "ext" in req:
        q["filename_pattern"] = "%." + req["ext"]
    if "top" in req:
        q["path_pattern"] = req["top"] + "/%"
    for k in ("min_size", "max_size"):
        if k in req:
            q[k] = str(req[k])
    if "has_checksum" in req:
        q["has_checksum"] = "true" if req["has_checksum"] else "false"
    return q


def api_requests(seed, t, n, tag):
    rng = random.Random(f"api-req:{tag}:{seed}")
    n_rows = t.num_rows
    sums = t["checksum"].to_pylist()
    sizes = t["file_size"].to_pylist()
    by_sum, by_group = {}, {}
    for c, s in zip(sums, sizes):
        if c is not None:
            by_sum[c] = by_sum.get(c, 0) + 1
            by_group[(c, s)] = by_group.get((c, s), 0) + 1
    keys = sorted(zip(t["path"].to_pylist(), t["filename"].to_pylist()))
    out = []
    for i in range(n):
        kind = API_MIX[i % len(API_MIX)]
        if kind in ("search_offset", "search_keyset"):
            req = {}
            if rng.random() < 0.8:
                req["ext"] = rng.choice(EXTS)
            if rng.random() < 0.5:
                req["top"] = f"/srv/p{rng.randrange(50):02d}"
            if rng.random() < 0.3:
                req["min_size"] = rng.randrange(0, 5_000_000)
            if rng.random() < 0.3:
                req["max_size"] = rng.randrange(5_000_000, 10_000_000)
            if rng.random() < 0.3:
                req["has_checksum"] = rng.random() < 0.5
            params = _search_query(req)
            mask = _search_mask(t, req)
            matched = n_rows if mask is None else pc.sum(mask).as_py() or 0
            limit = rng.choice((20, 50, 100))
            params["limit"] = str(limit)
            if kind == "search_offset":
                offset = rng.randrange(0, max(1, matched + limit))
                params["offset"] = str(offset)
                page = min(limit, max(0, matched - offset))
                expect = {"total_count": matched, "has_more": offset + page < matched,
                          "files": page}
            else:
                params["keyset"] = "true"
                remaining = matched
                if rng.random() < 0.6:
                    cp, cf = keys[rng.randrange(n_rows)]
                    params["cursor_path"], params["cursor_filename"] = cp, cf
                    after = pc.or_(pc.greater(t["path"], cp),
                                   pc.and_(pc.equal(t["path"], cp),
                                           pc.greater(t["filename"], cf)))
                    m = after if mask is None else pc.and_(mask, after)
                    remaining = pc.sum(m).as_py() or 0
                page = min(limit, remaining)
                expect = {"has_more": page == limit, "files": page}
            out.append({"kind": kind, "path": "/search/", "params": params, "expect": expect})
        elif kind == "duplicates":
            mg = rng.choice((2, 2, 3))
            limit = rng.choice((10, 50, 100))
            total = sum(1 for v in by_group.values() if v >= mg)
            offset = rng.randrange(0, total + limit)
            page = min(limit, max(0, total - offset))
            out.append({"kind": kind, "path": "/duplicates/",
                        "params": {"min_group_size": str(mg), "limit": str(limit),
                                   "offset": str(offset)},
                        "expect": {"total_groups": total, "has_more": offset + page < total,
                                   "groups": page}})
        elif kind == "stats":
            dup = [v for v in by_sum.values() if v > 1]
            out.append({"kind": kind, "path": "/stats/", "params": {},
                        "expect": {"total_files": n_rows, "duplicate_groups": len(dup),
                                   "duplicate_files": sum(dup)}})
        else:
            out.append({"kind": kind, "path": "/stats/visualization", "params": {},
                        "expect": {"size_rows": n_rows}})
    return out


def gen_api_search(seed, work):
    d = os.path.join(work, "api")
    os.makedirs(d, exist_ok=True)
    t = api_rows(seed, API_ROWS)
    rows_path = os.path.join(d, "rows.parquet")
    pq.write_table(t, rows_path, row_group_size=50_000)
    os.utime(rows_path, (EPOCH, EPOCH))
    reqs = api_requests(seed, t, API_REQUESTS, "run")
    warm = api_requests(seed, t, API_WARM_REQUESTS, "warm")
    spec = {"rows": rows_path, "db": os.path.join(d, "db"), "requests": reqs, "warm": warm,
            "min_ops": API_MIN_OPS}
    manifest = {"rows": t.num_rows, "requests": [r["expect"] for r in reqs],
                "kinds": [r["kind"] for r in reqs],
                "rows_digest": _digest([t["filename"].to_pylist()[:1000],
                                        t["checksum"].to_pylist()[:1000]]),
                "requests_digest": _digest(reqs)}
    return spec, manifest


# ------------------------------------------------------------ stream_dedup

def stream_drops(seed, n_drops, tag):
    """Drops of (doc_id, text): half new-vocabulary docs, half verbatim
    copies of earlier new docs. Returns (drops, expected kept per drop)."""
    rng = random.Random(f"stream:{tag}:{seed}")
    next_id = 1 if tag == "run" else 1_000_000_000
    originals = []  # texts of new docs so far
    drops, kept = [], []
    half = STREAM_DOCS_PER_DROP // 2
    for _ in range(n_drops):
        docs = []
        for _ in range(half):
            text = " ".join("%08x" % rng.getrandbits(32) for _ in range(STREAM_WORDS))
            docs.append((next_id, text))
            originals.append(text)
            next_id += 1
        for _ in range(STREAM_DOCS_PER_DROP - half):
            docs.append((next_id, rng.choice(originals)))
            next_id += 1
        drops.append(docs)
        kept.append(half)
    return drops, kept


def _write_drops(drops, hold, mtime0):
    os.makedirs(hold, exist_ok=True)
    paths = []
    for i, docs in enumerate(drops):
        p = os.path.join(hold, f"drop-{i:05d}.parquet")
        pq.write_table(pa.table({"doc_id": pa.array([d[0] for d in docs], pa.int64()),
                                 "text": pa.array([d[1] for d in docs], pa.string())}), p)
        os.utime(p, (mtime0 + i, mtime0 + i))  # file source order = drop order
        paths.append(p)
    return paths


def gen_stream_dedup(seed, work):
    d = os.path.join(work, "stream")
    drops, kept = stream_drops(seed, STREAM_DROPS, "run")
    warm, _ = stream_drops(seed, STREAM_WARM_DROPS, "warm")
    spec = {"drops": _write_drops(drops, os.path.join(d, "hold"), EPOCH),
            "warm_drops": _write_drops(warm, os.path.join(d, "warm-hold"), EPOCH),
            "root": d, "compact_every": STREAM_COMPACT_EVERY, "chunks": STREAM_CHUNKS,
            "traced_chunks": STREAM_TRACED_CHUNKS}
    manifest = {"kept": kept, "docs": [len(x) for x in drops],
                "drops_digest": _digest(drops)}
    return spec, manifest


GENERATORS = {"fs_index": gen_fs_index, "api_search": gen_api_search,
              "stream_dedup": gen_stream_dedup}


def generate(workload, seed, work):
    """Write the workload's inputs under `work`; return (spec, manifest).
    `spec` tells the JVM side where the inputs are, `manifest` holds the
    expected results."""
    os.makedirs(work, exist_ok=True)
    spec, manifest = GENERATORS[workload](seed, work)
    manifest["digest"] = _digest(manifest)
    return spec, manifest
