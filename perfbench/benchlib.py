"""The benchmark's arithmetic, transfer inputs and output checks, kept
apart from the runner so they can be unit-tested.
"""
import hashlib
import math
import os
import random


# ---- statistics -------------------------------------------------------

def median(xs):
    """(median, n) of a non-empty sample."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of an empty sample")
    m = s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2
    return m, n


def percentile(xs, q):
    """(q-th percentile by linear interpolation, n); q in [0, 100]."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("percentile of an empty sample")
    pos = (n - 1) * q / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo), n


def files_per_s(n_files, cycle_s):
    """Small files moved through one upload → download → move → delete
    cycle, per second of that cycle's wall time."""
    if cycle_s <= 0:
        raise ValueError("cycle wall time must be positive")
    return n_files / cycle_s


def mb_per_s(bytes_up, bytes_down, up_s, down_s):
    """Large-set MB moved up plus down, per second of upload + download."""
    if up_s + down_s <= 0:
        raise ValueError("transfer wall time must be positive")
    return (bytes_up + bytes_down) / 1e6 / (up_s + down_s)


def fail_frac(failed, attempted):
    if attempted < 1:
        raise ValueError("no operation attempted")
    return failed / attempted


# ---- transfer inputs ----------------------------------------------------

def make_trees(work, seed, n_small, n_large, large_bytes):
    """Draw the transfer inputs from `seed`: `n_small` files of 1–64 KB
    under nested directories (depth 0–2) in `work/src_small`, and
    `n_large` files of `large_bytes` each in `work/src_large`. Returns
    {"small": {relpath: sha256}, "large": {...}, "*_bytes": totals}."""
    rng = random.Random(seed)
    out = {"small": {}, "large": {}, "small_bytes": 0, "large_bytes": 0}
    for i in range(n_small):
        depth = rng.randrange(3)
        rel = os.path.join(*[f"d{rng.randrange(4)}" for _ in range(depth)],
                           f"s{rng.randrange(10**6):06d}_{i}.dat")
        data = rng.randbytes(rng.randrange(1024, 64 * 1024 + 1))
        _write(os.path.join(work, "src_small", rel), data)
        out["small"][rel] = hashlib.sha256(data).hexdigest()
        out["small_bytes"] += len(data)
    for i in range(n_large):
        rel = f"b{rng.randrange(10**6):06d}_{i}.bin"
        data = rng.randbytes(large_bytes)
        _write(os.path.join(work, "src_large", rel), data)
        out["large"][rel] = hashlib.sha256(data).hexdigest()
        out["large_bytes"] += len(data)
    return out


def _write(path, data):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(data)


def enumerated(sources, stem, ext):
    """The blueprints' enumerated plan: the k-th source in path order
    becomes `stem_k.ext`. `sources` maps name → sha256; returns the
    expected destination name → sha256."""
    return {f"{stem}_{k}{ext}": sources[name]
            for k, name in enumerate(sorted(sources), start=1)}


def expected_steps(tree):
    """Expected output of every step of one protocol's cycle, as
    name → sha256 of the step's output directory."""
    up = enumerated(tree["small"], "f", ".dat")
    down = enumerated({f"/small/up/{n}": h for n, h in up.items()}, "g", ".dat")
    moved = enumerated({f"/small/up/{n}": h for n, h in up.items()}, "m", ".dat")
    large_up = enumerated(tree["large"], "L", ".bin")
    large_down = enumerated({f"/large/{n}": h for n, h in large_up.items()}, "K", ".bin")
    return {"small.upload": up, "small.download": down, "small.move": moved,
            "small.delete": {}, "large.upload": large_up,
            "large.download": large_down}


def check_step(expected, step):
    """Problems with one blueprint step's record: a non-zero exit, a
    missing or extra enumerated name, a byte mismatch, or files left
    behind at a move's source."""
    problems = []
    if step.get("exit") != 0:
        problems.append(f"exit {step.get('exit')}")
    got = step.get("files", {})
    for name in sorted(set(expected) - set(got)):
        problems.append(f"missing {name}")
    for name in sorted(set(got) - set(expected)):
        problems.append(f"extra {name}")
    for name in sorted(set(expected) & set(got)):
        if expected[name] != got[name]:
            problems.append(f"bytes differ: {name}")
    for name in step.get("left", []):
        problems.append(f"left behind {name}")
    return problems


def check_query(expected, q):
    """Problems with one query execution: an error, or a row count or
    content hash different from the stored expectation."""
    if q.get("error"):
        return [f"error {q['error'][:200]}"]
    want = expected.get(q["name"])
    if want is None:
        return ["no expected result stored"]
    problems = []
    if q["rows"] != want["rows"]:
        problems.append(f"rows {q['rows']} != {want['rows']}")
    if q["hash"] != want["hash"]:
        problems.append(f"hash {q['hash']} != {want['hash']}")
    return problems
