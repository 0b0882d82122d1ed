"""Seeded input generators for the three workloads.

Each generator writes the program's inputs into a directory and returns a
manifest of the answers the program must reproduce. The manifest stays on
the benchmark side; the program only ever sees the generated files. The
same seed gives the same bytes (numpy's PCG64 stream is stable for a given
numpy version).
"""

import json
import os

import numpy as np

MONTHS = ("Jan", "Feb", "Mar", "Apr", "May", "Jun",
          "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")
METHODS = np.array(["GET", "POST", "HEAD", "PUT"])
METHOD_P = [0.84, 0.10, 0.05, 0.01]
STATUSES = np.array([200, 304, 404, 301, 500, 206, 403])
STATUS_P = [0.74, 0.09, 0.08, 0.04, 0.02, 0.02, 0.01]
AGENTS = np.array([
    "Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 Chrome/124.0",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) Gecko/20100101 Firefox/125.0",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 14_4) Safari/605.1.15",
    "curl/8.5.0",
    "Googlebot/2.1 (+http://www.google.com/bot.html)",
    "python-requests/2.31.0",
])
AGENT_P = [0.35, 0.2, 0.2, 0.1, 0.1, 0.05]
TOP_PATHS = 10


def _zipf_choice(rng, n, size, s):
    """Draw `size` indices in [0, n) with P(i) proportional to 1/(i+1)^s."""
    cdf = np.cumsum(1.0 / np.arange(1, n + 1, dtype=np.float64) ** s)
    return np.minimum(np.searchsorted(cdf, rng.random(size) * cdf[-1], side="right"), n - 1)


def _hosts(rng, n):
    octets = rng.integers(1, 255, size=(n, 4))
    return np.array([f"{a}.{b}.{c}.{d}" for a, b, c, d in octets])


def _paths(rng, n):
    kinds = ("/static/img/{}.png", "/api/v1/items/{}", "/blog/post-{}.html",
             "/search?q=term{}", "/assets/app-{}.js")
    ids = rng.integers(0, 100000, size=n)
    return np.array([kinds[i % len(kinds)].format(x) for i, x in enumerate(ids)])


def _log_lines(rng, n, secs, day, hosts, paths, host_s, path_s, bad_share):
    """`n` combined-format lines at event-time offsets `secs` (seconds into
    `day`, 0 <= secs < 86400), with about `bad_share` malformed lines.
    Returns (lines, valid_mask, status, path_idx)."""
    h = _zipf_choice(rng, len(hosts), n, host_s)
    p = _zipf_choice(rng, len(paths), n, path_s)
    method = rng.choice(METHODS, size=n, p=METHOD_P)
    status = rng.choice(STATUSES, size=n, p=STATUS_P)
    size = rng.integers(200, 60000, size=n)
    agent = rng.choice(AGENTS, size=n, p=AGENT_P)
    referer = rng.integers(0, 4, size=n)
    user = rng.integers(0, 20, size=n)
    bad = rng.random(n) < bad_share
    cut = rng.uniform(0.3, 0.9, size=n)
    garbage = rng.integers(0, 2, size=n)
    hh, rem = np.divmod(secs, 3600)
    mm, ss = np.divmod(rem, 60)
    day_s = f"{day[2]:02d}/{MONTHS[day[1] - 1]}/{day[0]}"
    path = paths[p].tolist()
    bytes_ = np.where(status == 304, "-", size.astype(str)).tolist()
    lines = []
    for i, (host, pth, m, st, b, ag, ref, usr, h_, m_, s_) in enumerate(zip(
            hosts[h].tolist(), path, method.tolist(), status.tolist(), bytes_,
            agent.tolist(), referer.tolist(), user.tolist(),
            hh.tolist(), mm.tolist(), ss.tolist())):
        line = (f'{host} - {"frank" if usr == 0 else "-"} [{day_s}:{h_:02d}:{m_:02d}:{s_:02d} +0000] '
                f'"{m} {pth} HTTP/1.1" {st} {b} '
                f'"{"-" if ref else "https://example.org" + pth}" "{ag}"')
        if bad[i]:
            # a truncated line loses its closing quote; a garbage line has none
            line = line[:int(len(line) * cut[i])] if garbage[i] else f"malformed entry {i} ?? {b}"
        lines.append(line)
    return lines, ~bad, status, p


def logscan(out_dir, seed, lines_total, files):
    rng = np.random.Generator(np.random.PCG64(seed))
    hosts = _hosts(rng, 5000)
    paths = _paths(rng, 3000)
    secs = rng.integers(0, 86400, size=lines_total)
    lines, ok, status, p = _log_lines(rng, lines_total, secs, (2024, 3, 10),
                                      hosts, paths, 1.1, 1.05, 0.005)
    per = lines_total // files
    for f in range(files):
        with open(os.path.join(out_dir, f"access-{f:02d}.log"), "w") as fh:
            fh.write("\n".join(lines[f * per:(f + 1) * per]) + "\n")
    kept = slice(0, per * files)
    ok, status, p, hrs = ok[kept], status[kept], p[kept], secs[kept] // 3600
    st, st_n = np.unique(status[ok], return_counts=True)
    sh = {}
    for s_, h_ in zip(status[ok], hrs[ok]):
        sh[f"{s_}|{h_}"] = sh.get(f"{s_}|{h_}", 0) + 1
    # the parser splits the query string off `path`
    bare, bare_idx = np.unique([s_.split("?")[0] for s_ in paths], return_inverse=True)
    pi, pn = np.unique(bare_idx[p[ok]], return_counts=True)
    top = sorted(((-int(c), str(bare[i])) for i, c in zip(pi, pn)))[:TOP_PATHS]
    return {
        "lines": per * files,
        "malformed": int((~ok).sum()),
        "status_counts": {str(s_): int(c) for s_, c in zip(st, st_n)},
        "status_hour_counts": sh,
        "top_paths": [[path, -negc] for negc, path in top],
    }


def dedup(out_dir, seed, docs, files, dup_share=0.15, subs=3):
    """`docs` parquet documents of 150-300 Zipf-drawn words; about
    `dup_share` of them are near-duplicate copies (1-3 per family), each
    copy its family's original with `subs` words substituted."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.Generator(np.random.PCG64(seed))
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = np.array(["".join(rng.choice(letters, size=k))
                      for k in rng.integers(3, 10, size=20000)])
    n_copies_target = int(docs * dup_share)
    n_fam = 0
    copies_made = 0
    originals = docs - n_copies_target
    lengths = rng.integers(150, 301, size=originals)
    words = vocab[_zipf_choice(rng, len(vocab), int(lengths.sum()), 1.0)]
    texts = np.split(words, np.cumsum(lengths)[:-1])
    family = [-1] * originals
    # families: copies of distinct originals until the copy budget is used
    for o in rng.permutation(originals):
        if copies_made >= n_copies_target:
            break
        k = min(int(rng.integers(1, 4)), n_copies_target - copies_made)
        family[o] = n_fam
        for _ in range(k):
            w = texts[o].copy()
            pos = rng.choice(len(w), size=subs, replace=False)
            w[pos] = vocab[rng.integers(0, len(vocab), size=subs)]
            texts.append(w)
            family.append(n_fam)
        copies_made += k
        n_fam += 1
    order = rng.permutation(len(texts))  # ids carry no hint of family
    ids = np.empty(len(texts), dtype=np.int64)
    ids[order] = np.arange(len(texts), dtype=np.int64)
    text_col = [" ".join(t) for t in texts]
    per = -(-len(texts) // files)
    by_id = np.argsort(ids)
    for f in range(files):
        sel = by_id[f * per:(f + 1) * per]
        table = pa.table({"id": pa.array(ids[sel], pa.int64()),
                          "text": pa.array([text_col[i] for i in sel], pa.string())})
        pq.write_table(table, os.path.join(out_dir, f"docs-{f:02d}.parquet"),
                       compression="snappy")
    fam = np.array(family)
    singletons = sorted(int(i) for i in ids[fam < 0])
    dup_ids = []
    for f in range(n_fam):
        members = sorted(int(i) for i in ids[fam == f])
        dup_ids.extend(members[1:])
    return {"docs": len(texts), "families": n_fam,
            "singletons": singletons, "planted_dups": sorted(dup_ids)}


def stream(out_dir, seed, files, lines_per_file, span_s=60):
    """`files` log files for the stream's writer; file j covers event time
    [j*span_s, (j+1)*span_s) so no line is ever behind the watermark."""
    rng = np.random.Generator(np.random.PCG64(seed))
    hosts = _hosts(rng, 2000)
    paths = _paths(rng, 1000)
    valid = []
    for j in range(files):
        secs = j * span_s + rng.integers(0, span_s, size=lines_per_file)
        lines, ok, _, _ = _log_lines(rng, lines_per_file, secs, (2024, 3, 10),
                                     hosts, paths, 1.1, 1.05, 0.005)
        with open(os.path.join(out_dir, f"part-{j:04d}.log"), "w") as fh:
            fh.write("\n".join(lines) + "\n")
        valid.append(int(ok.sum()))
    return {"files": files, "lines_per_file": lines_per_file, "valid_per_file": valid}


def generate(workload, out_dir, seed, **size):
    os.makedirs(out_dir, exist_ok=True)
    manifest = globals()[workload](out_dir, seed, **size)
    with open(os.path.join(out_dir, "..", f"{os.path.basename(out_dir)}.manifest.json"), "w") as fh:
        json.dump(manifest, fh)
    return manifest
