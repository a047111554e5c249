"""Seeded corpus generators for the benchmark, plus the truth the checks use.

Two corpora, both made from ``random.Random`` with a seed derived from the
benchmark seed and the shard number, so the same seed gives the same bytes:

- ``gharchive``: GitHub-archive-shaped events, one compact document per line
  (NDJSON), several files per shard. The structure repeats; the values
  (ids, logins, hex shas, timestamps, free text) are high-cardinality.
- ``drift``: pretty-printed, concatenated documents in ``.json.gz`` files.
  Every key is optional and drawn from a 300-key pool; numbers widen as
  the shard goes on, hex and timestamp strings sometimes decay to plain
  strings, and some keys change type between documents, which makes unions.

Each shard directory carries ``truth.json``: the document count, the
per-event-type counts (gharchive), every top-level key, and the per-leaf-path
value counts and type families from ``leaf_counts``, an independent stdlib
walk that follows the shredder's rules (nulls skipped, array elements go to
``<path>.list``).
"""

from __future__ import annotations

import gzip
import json
import os
import random
import shutil
import string
from collections import Counter

EVENT_TYPES = [
    ("PushEvent", 50),
    ("CreateEvent", 12),
    ("WatchEvent", 12),
    ("IssueCommentEvent", 8),
    ("PullRequestEvent", 7),
    ("IssuesEvent", 6),
    ("ForkEvent", 5),
]
_WORDS = (
    "fix add update remove refactor test docs build bump merge branch release "
    "typo config parser cache index query schema json spark hive column table "
    "error warning support initial commit version readme license cleanup"
).split()


def leaf_counts(doc, counts: Counter, root: str = "root", kinds: dict | None = None) -> int:
    """Add one count per primitive leaf of ``doc`` to ``counts`` (keyed by
    dotted path) and return how many were added. With ``kinds``, also add
    each leaf's type family to ``kinds[path]``: ``boolean``, ``number`` or
    ``text``, the three primitive families the type lattice never merges
    (two families at one path make a union)."""
    if doc is None:
        return 0
    if isinstance(doc, dict):
        return sum(leaf_counts(v, counts, f"{root}.{k}", kinds) for k, v in doc.items())
    if isinstance(doc, list):
        return sum(leaf_counts(v, counts, f"{root}.list", kinds) for v in doc)
    counts[root] += 1
    if kinds is not None:
        family = "boolean" if isinstance(doc, bool) else "text" if isinstance(doc, str) else "number"
        kinds.setdefault(root, set()).add(family)
    return 1


# --- gharchive --------------------------------------------------------------


def _hex(rng: random.Random, n: int = 40) -> str:
    return "%0*x" % (n, rng.getrandbits(4 * n))


def _login(rng: random.Random) -> str:
    return "".join(rng.choices(string.ascii_lowercase + string.digits, k=rng.randint(4, 14)))


def _ts(rng: random.Random) -> str:
    return "2015-%02d-%02dT%02d:%02d:%02dZ" % (
        rng.randint(1, 12), rng.randint(1, 28), rng.randint(0, 23),
        rng.randint(0, 59), rng.randint(0, 59),
    )


def _text(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choices(_WORDS, k=rng.randint(lo, hi)))


def _user(rng: random.Random) -> dict:
    login = _login(rng)
    return {
        "login": login,
        "id": rng.randint(1, 12_000_000),
        "url": f"https://api.github.com/users/{login}",
        "site_admin": rng.random() < 0.01,
    }


def _issue(rng: random.Random, repo: str) -> dict:
    number = rng.randint(1, 40_000)
    return {
        "url": f"https://api.github.com/repos/{repo}/issues/{number}",
        "id": rng.randint(10_000_000, 60_000_000),
        "number": number,
        "title": _text(rng, 2, 9),
        "user": _user(rng),
        "labels": [
            {"name": rng.choice(_WORDS), "color": _hex(rng, 6)} for _ in range(rng.randint(0, 3))
        ],
        "state": rng.choice(["open", "closed"]),
        "comments": rng.randint(0, 80),
        "created_at": _ts(rng),
        "closed_at": _ts(rng) if rng.random() < 0.4 else None,
        "body": _text(rng, 0, 40),
    }


def _payload(rng: random.Random, etype: str, repo: str) -> dict:
    if etype == "PushEvent":
        commits = [
            {
                "sha": _hex(rng),
                "author": {"email": f"{_login(rng)}@example.com", "name": _login(rng)},
                "message": _text(rng, 1, 14),
                "distinct": rng.random() < 0.9,
                "url": f"https://api.github.com/repos/{repo}/commits/{_hex(rng)}",
            }
            for _ in range(rng.randint(1, 4))
        ]
        return {
            "push_id": rng.randint(500_000_000, 540_000_000),
            "size": len(commits),
            "distinct_size": len(commits),
            "ref": "refs/heads/" + rng.choice(["master", "main", "dev", _login(rng)]),
            "head": _hex(rng),
            "before": _hex(rng),
            "commits": commits,
        }
    if etype == "CreateEvent":
        return {
            "ref": rng.choice([None, "master", _login(rng)]),
            "ref_type": rng.choice(["repository", "branch", "tag"]),
            "master_branch": "master",
            "description": _text(rng, 0, 12),
            "pusher_type": "user",
        }
    if etype == "WatchEvent":
        return {"action": "started"}
    if etype in ("IssuesEvent", "IssueCommentEvent"):
        out = {"action": rng.choice(["opened", "closed", "reopened", "created"]),
               "issue": _issue(rng, repo)}
        if etype == "IssueCommentEvent":
            out["comment"] = {
                "id": rng.randint(60_000_000, 90_000_000),
                "user": _user(rng),
                "created_at": _ts(rng),
                "body": _text(rng, 1, 30),
            }
        return out
    if etype == "PullRequestEvent":
        return {
            "action": rng.choice(["opened", "closed", "synchronize"]),
            "number": rng.randint(1, 9_000),
            "pull_request": {
                "id": rng.randint(20_000_000, 30_000_000),
                "title": _text(rng, 2, 10),
                "user": _user(rng),
                "merged": rng.random() < 0.5,
                "commits": rng.randint(1, 50),
                "additions": rng.randint(0, 5_000),
                "deletions": rng.randint(0, 5_000),
                "head": {"sha": _hex(rng), "ref": _login(rng)},
                "base": {"sha": _hex(rng), "ref": "master"},
                "created_at": _ts(rng),
            },
        }
    # ForkEvent
    return {
        "forkee": {
            "id": rng.randint(28_000_000, 29_000_000),
            "full_name": f"{_login(rng)}/{_login(rng)}",
            "private": False,
            "fork": True,
            "created_at": _ts(rng),
            "stargazers_count": rng.randint(0, 500),
            "language": rng.choice([None, "Python", "Java", "Go", "C"]),
        }
    }


def gharchive_doc(rng: random.Random) -> dict:
    etype = rng.choices([t for t, _ in EVENT_TYPES], [w for _, w in EVENT_TYPES])[0]
    repo = f"{_login(rng)}/{_login(rng)}"
    doc = {
        "id": str(rng.randint(2_400_000_000, 2_600_000_000)),
        "type": etype,
        "actor": {
            "id": rng.randint(1, 12_000_000),
            "login": _login(rng),
            "gravatar_id": "",
            "url": f"https://api.github.com/users/{_login(rng)}",
            "avatar_url": f"https://avatars.githubusercontent.com/u/{rng.randint(1, 12_000_000)}?",
        },
        "repo": {"id": rng.randint(1, 30_000_000), "name": repo,
                 "url": f"https://api.github.com/repos/{repo}"},
        "payload": _payload(rng, etype, repo),
        "public": True,
        "created_at": _ts(rng),
    }
    if rng.random() < 0.2:
        doc["org"] = {"id": rng.randint(1, 10_000_000), "login": _login(rng)}
    return doc


# --- drift ------------------------------------------------------------------

_POOL_SIZE = 300
# key kind by position in the pool: 150 scalar keys, 60 nested objects,
# 30 arrays, 60 keys whose type conflicts between documents
_SCALAR_KINDS = ["int", "float", "bool", "str", "hex", "ts", "big"]


def _scalar(rng: random.Random, kind: str, progress: float):
    if kind == "int":
        # widens tinyint -> smallint -> int as the shard goes on
        return rng.randint(0, int(100 + progress ** 3 * 3_000_000))
    if kind == "big":
        return rng.randint(0, 10 ** rng.randint(3, 18))
    if kind == "float":
        return round(rng.uniform(-1000, 1000), rng.randint(1, 6))
    if kind == "bool":
        return rng.random() < 0.5
    if kind == "hex":
        # mostly hex (BINARY); a late minority decays the path to STRING
        return _hex(rng, 16) if rng.random() > progress * 0.02 else _login(rng) + "!"
    if kind == "ts":
        return _ts(rng).replace("T", " ").rstrip("Z") if rng.random() > progress * 0.02 else "n/a"
    return _text(rng, 1, 4)


def _pool_key(i: int) -> str:
    return f"k{i:03d}"


def drift_doc(rng: random.Random, progress: float) -> dict:
    doc: dict = {"id": rng.randint(0, 2 ** 40)}
    for i in rng.sample(range(_POOL_SIZE), rng.randint(25, 55)):
        key = _pool_key(i)
        if rng.random() < 0.03:
            doc[key] = None
        elif i < 150:
            doc[key] = _scalar(rng, _SCALAR_KINDS[i % len(_SCALAR_KINDS)], progress)
        elif i < 210:
            n_sub = 4 + i % 5
            doc[key] = {
                f"f{j}": _scalar(rng, _SCALAR_KINDS[(i + j) % len(_SCALAR_KINDS)], progress)
                for j in range(n_sub)
                if rng.random() < 0.8
            }
        elif i < 240:
            if i % 2:
                doc[key] = [_scalar(rng, "int", progress) for _ in range(rng.randint(0, 5))]
            else:
                doc[key] = [
                    {"name": _login(rng), "score": _scalar(rng, "float", progress)}
                    for _ in range(rng.randint(0, 3))
                ]
        else:
            pick = rng.random()
            if pick < 0.6:
                doc[key] = _scalar(rng, "int", progress)
            elif pick < 0.9:
                doc[key] = _text(rng, 1, 3)
            else:
                doc[key] = {"v": _scalar(rng, "int", progress), "note": _text(rng, 1, 2)}
    return doc


# --- shard writers ----------------------------------------------------------


def _write_shard(workload: str, seed: int, shard: int, docs: int, files: int, out: str) -> dict:
    rng = random.Random(f"{workload}/{seed}/{shard}")
    counts: Counter = Counter()
    kinds: dict = {}
    top_keys: set = set()
    types: Counter = Counter()
    rows = 0
    names = []
    per_file = [docs // files + (1 if f < docs % files else 0) for f in range(files)]
    done = 0
    for f, n in enumerate(per_file):
        parts = []
        for _ in range(n):
            if workload == "gharchive":
                doc = gharchive_doc(rng)
                types[doc["type"]] += 1
                parts.append(json.dumps(doc, separators=(",", ":")))
            else:
                doc = drift_doc(rng, done / max(docs - 1, 1))
                parts.append(json.dumps(doc, indent=2))
            rows += leaf_counts(doc, counts, kinds=kinds)
            top_keys.update(doc)
            done += 1
        if workload == "gharchive":
            name = f"part-{f:02d}.json"
            with open(os.path.join(out, name), "w", encoding="utf-8") as fh:
                fh.write("\n".join(parts) + "\n")
        else:
            name = f"part-{f:02d}.json.gz"
            data = ("\n".join(parts) + "\n").encode("utf-8")
            with open(os.path.join(out, name), "wb") as fh:
                fh.write(gzip.compress(data, compresslevel=6, mtime=0))
        names.append(name)
    return {
        "docs": docs,
        "files": names,
        "types": dict(sorted(types.items())),
        "rows": rows,
        "leaf_counts": dict(sorted(counts.items())),
        "leaf_kinds": {path: sorted(kinds[path]) for path in sorted(kinds)},
        "top_keys": sorted(top_keys),
    }


def ensure_shard(cache: str, workload: str, seed: int, shard: int, docs: int, files: int) -> str:
    """Return the directory of one shard, generating it unless the cache
    (keyed by workload, seed and size) already holds it."""
    final = os.path.join(cache, f"{workload}-seed{seed}-{docs}x{files}", f"shard{shard:02d}")
    if not os.path.exists(os.path.join(final, "truth.json")):
        tmp = final + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        truth = _write_shard(workload, seed, shard, docs, files, tmp)
        with open(os.path.join(tmp, "truth.json"), "w") as fh:
            json.dump(truth, fh)
        shutil.rmtree(final, ignore_errors=True)
        os.replace(tmp, final)
    return final
