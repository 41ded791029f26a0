"""Pixel-codec kernel microbench: the per-row steps of the fetch stage's
Arrow UDF, timed by direct calls on a seeded sample drawn with the fetch
stage's own distribution (w, h in 32–128, ~70% png), and bit-checked
against the oracle kernel ``sources.synthetic.fetch_payload_py``.

The oracle calls the same kernels, so that check alone cannot see a wrong
edit to a kernel. ``golden_check`` therefore also holds the kernels and the
oracle to values recorded in ``golden_codec.json`` when this benchmark was
defined: sha256 of the encoded bytes, phash, image_id and caption of a
fixed sample. Rewrite the file only for a change that is meant to alter
the payloads:

    python3 -m perfbench.codec --write-golden     # from the repository root
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import sys
import time

GOLDEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "golden_codec.json")
GOLDEN_SEED, GOLDEN_N = 0, 40


def _sample(seed: int, n: int) -> list[tuple[str, str, int, int, int, str]]:
    """(url, source_name, key, w, h, fmt) with the fetch stage's derivation
    of dims and format from the URL hash."""
    from newsraag_crawler_spark.functions.hashing import portable_hash64_py

    out = []
    for i in range(n):
        url = f"https://host{i % 97}.example.com/articles/{seed}-{i}"
        h = portable_hash64_py(f"fetch:{url}", salt=f"w{seed}:")
        fmt = "png" if (h >> 16) % 10 < 7 else "jpeg"
        out.append((url, f"src{i % 100}", h & 0xFFFFFFFF, 32 + h % 97, 32 + (h >> 8) % 97, fmt))
    return out


def microbench(seed: int, n: int) -> tuple[dict[str, float], list[str]]:
    """Mean µs per call of each kernel, and the bit-check failures."""
    from newsraag_crawler_spark.functions.images import (
        encode_image, lossy_roundtrip, phash64, synth_image,
    )
    from newsraag_crawler_spark.sources.synthetic import fetch_payload_py

    t = {"synth": [], "png": [], "lossy": [], "roundtrip": [], "phash": []}
    fails = []
    for url, src, key, w, h, fmt in _sample(seed, n):
        t0 = time.perf_counter()
        img = synth_image(key, w, h)
        t1 = time.perf_counter()
        data = encode_image(img, fmt)
        t2 = time.perf_counter()
        t["synth"].append(t1 - t0)
        t["png" if fmt == "png" else "lossy"].append(t2 - t1)
        if fmt != "png":
            t2 = time.perf_counter()
            img = lossy_roundtrip(img)
            t["roundtrip"].append(time.perf_counter() - t2)
        t3 = time.perf_counter()
        ph = phash64(img)
        t["phash"].append(time.perf_counter() - t3)
        want = fetch_payload_py(url, src, seed=seed)
        if (want["w"], want["h"], want["fmt"]) != (w, h, fmt):
            fails.append(f"codec: {url} dims/fmt differ from fetch_payload_py")
        elif want["bytes"] != data or want["phash"] != ph:
            fails.append(f"codec: {url} bytes/phash differ from fetch_payload_py")
    us = {k: statistics.fmean(v) * 1e6 if v else 0.0 for k, v in t.items()}
    per_row = sum(sum(v) for v in t.values()) * 1e6 / n
    return {
        "images.synth_image_us": us["synth"],
        "images.encode_png_us": us["png"],
        "images.encode_lossy_us": us["lossy"],
        "images.lossy_roundtrip_us": us["roundtrip"],
        "images.phash64_us": us["phash"],
        "_kernel_us_per_row": per_row,
    }, fails


def _golden_values() -> list[dict]:
    """The golden sample through the kernels and through the oracle."""
    from newsraag_crawler_spark.functions.images import (
        encode_image, lossy_roundtrip, phash64, synth_image,
    )
    from newsraag_crawler_spark.sources.synthetic import fetch_payload_py

    out = []
    for url, src, key, w, h, fmt in _sample(GOLDEN_SEED, GOLDEN_N):
        img = synth_image(key, w, h)
        data = encode_image(img, fmt)
        want = fetch_payload_py(url, src, seed=GOLDEN_SEED)
        out.append({
            "url": url, "source_name": src, "fmt": fmt,
            "kernel_sha256": hashlib.sha256(data).hexdigest(),
            "kernel_phash": phash64(img if fmt == "png" else lossy_roundtrip(img)),
            "oracle_sha256": hashlib.sha256(want["bytes"]).hexdigest(),
            "oracle_phash": want["phash"],
            "image_id": want["image_id"],
            "caption": want["caption"],
        })
    return out


def golden_check() -> list[str]:
    """Kernels and oracle against the recorded golden values."""
    with open(GOLDEN) as f:
        want = json.load(f)
    try:
        values = _golden_values()
    except Exception as e:  # noqa: BLE001 — a kernel that raises fails the check
        return [f"codec golden: {type(e).__name__}: {str(e)[:300]}"]
    fails = []
    for got, exp in zip(values, want, strict=True):
        bad = [k for k in exp if got[k] != exp[k]]
        if bad:
            fails.append(f"codec golden: {exp['url']} differs in {bad}")
    return fails


if __name__ == "__main__":
    if sys.argv[1:] != ["--write-golden"]:
        sys.exit("usage: python3 -m perfbench.codec --write-golden")
    with open(GOLDEN, "w") as f:
        json.dump(_golden_values(), f, indent=1)
        f.write("\n")
