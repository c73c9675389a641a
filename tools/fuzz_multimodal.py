"""Standalone fuzz harness for the multimodal decoders.

Feeds VALID blobs of every format this module decodes through random
truncations / bit-flips / byte deletions / insertions / dimension-field
maxing, then asserts the contract the l8n dispatcher (and any Spark task
hosting a decoder) relies on:

  - ``sniff_media`` / ``decode_image`` / ``dispatch_media`` NEVER raise;
  - every decoder either returns or raises ValueError /
    NotImplementedError — no IndexError, struct.error, zlib.error,
    MemoryError, KeyError, OverflowError, RecursionError escapes;
  - no decode call hangs (SIGALRM bound) or allocates unboundedly
    (RLIMIT_AS turns runaway allocations into MemoryError findings).

Runs OUTSIDE pytest so an OOM or hang found by mutation cannot take the
test process down with it. The pytest sweep
(tests/test_multimodal_sniff.py::test_fuzz_mutated_blobs_degrade)
re-runs a bounded slice of the same generator in-process once this
harness is clean.

Usage: python tools/fuzz_multimodal.py [n_per_seed] [master_seed]
Prints one JSON line: {"n_cases": N, "findings": [...], "n_findings": K,
"outcome_sha256": D, "elapsed_s": S}. ``outcome_sha256`` digests every
(fmt, case, fn) outcome — the returned value (arrays by dtype, shape and
bytes) or the exception class name — so two commits that decode the
same mutants identically print the same digest.
Reproduce any finding by re-running with the same master_seed.
"""

from __future__ import annotations

import hashlib
import json
import os
import resource
import signal
import sys
import time
import zlib

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)
sys.path.insert(0, os.path.join(_ROOT, "tests"))

import numpy as np  # noqa: E402

ALLOWED = (ValueError, NotImplementedError)


class DecodeTimeout(Exception):
    pass


def _alarm(_sig, _frm):
    raise DecodeTimeout("decode exceeded the wall-time bound")


# Seed corpus + mutation engine are shared with the in-suite sweep —
# single source of truth in tests/test_multimodal_sniff.py.
from test_multimodal_sniff import build_fuzz_seeds as build_seeds  # noqa: E402
from test_multimodal_sniff import mutate_blob as mutate  # noqa: E402


def _canon(v) -> bytes:
    """Stable byte encoding of a decoder's return value."""
    if isinstance(v, np.ndarray):
        return b"nd:%s:%r:" % (v.dtype.str.encode(), v.shape) + v.tobytes()
    if isinstance(v, (tuple, list)):
        return b"(" + b",".join(_canon(x) for x in v) + b")"
    return repr(v).encode()


def decoder_matrix():
    """(name, callable, may_raise_allowed) triples covering every decode
    entry point a Spark task hosts, plus the never-raise dispatch layer."""
    from lens_warehouse_spark.llm import multimodal as M

    return [
        ("sniff_media", M.sniff_media, False),
        ("decode_image", M.decode_image, False),
        ("dispatch_media", M.dispatch_media, False),
        ("decode_pixels", M.decode_pixels, True),
        ("decode_audio", M.decode_audio, True),
        ("decode_y4m", M.decode_y4m, True),
        ("decode_png", M.decode_png, True),
        ("decode_gif", M.decode_gif, True),
        ("decode_jpeg", M.decode_jpeg, True),
        ("decode_jpeg_gray", M.decode_jpeg_gray, True),
        ("decode_tiff", M.decode_tiff, True),
        ("decode_flac", M.decode_flac, True),
        ("gunzip_stats", M.gunzip_stats, False),  # s21's degrade layer
    ]


def main() -> None:
    n_per_seed = int(sys.argv[1]) if len(sys.argv) > 1 else 400
    master = int(sys.argv[2]) if len(sys.argv) > 2 else 0xD15EA5E
    # Runaway allocations raise MemoryError (a finding) instead of
    # freezing the host; 8 GiB leaves numpy plenty for honest work.
    resource.setrlimit(resource.RLIMIT_AS, (8 << 30, 8 << 30))
    signal.signal(signal.SIGALRM, _alarm)

    seeds = build_seeds()
    decoders = decoder_matrix()
    findings: list[dict] = []
    n_cases = 0
    digest = hashlib.sha256()
    t0 = time.monotonic()
    for fmt, seed_blob in seeds.items():
        # crc32, not hash(): str hash is salted per process, and a
        # reported (fmt, case) must reproduce from the same master seed
        rng = np.random.default_rng((master, zlib.crc32(fmt.encode())))
        for case in range(n_per_seed):
            op, blob = mutate(rng, seed_blob)
            for name, fn, may_raise in decoders:
                n_cases += 1
                signal.setitimer(signal.ITIMER_REAL, 5.0)
                t1 = time.monotonic()
                try:
                    outcome = _canon(fn(blob))
                except ALLOWED as e:
                    outcome = type(e).__name__.encode()
                    if not may_raise:
                        findings.append(
                            {"fmt": fmt, "case": case, "op": op, "fn": name,
                             "kind": "raised_in_never_raise_layer"}
                        )
                except DecodeTimeout:
                    outcome = b"DecodeTimeout"
                    findings.append(
                        {"fmt": fmt, "case": case, "op": op, "fn": name,
                         "kind": "timeout>5s"}
                    )
                except BaseException as e:  # the whole point of the harness
                    outcome = type(e).__name__.encode()
                    findings.append(
                        {"fmt": fmt, "case": case, "op": op, "fn": name,
                         "kind": type(e).__name__, "msg": str(e)[:160]}
                    )
                finally:
                    signal.setitimer(signal.ITIMER_REAL, 0.0)
                digest.update(f"{fmt}\0{case}\0{name}\0".encode())
                digest.update(hashlib.sha256(outcome).digest())
                dt = time.monotonic() - t1
                if dt > 2.0:
                    findings.append(
                        {"fmt": fmt, "case": case, "op": op, "fn": name,
                         "kind": f"slow:{dt:.1f}s"}
                    )
    print(json.dumps(
        {"n_cases": n_cases, "findings": findings[:200],
         "n_findings": len(findings),
         "outcome_sha256": digest.hexdigest(),
         "elapsed_s": round(time.monotonic() - t0, 1)}
    ))


if __name__ == "__main__":
    main()
