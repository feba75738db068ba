"""Compile-on-demand C kernel for the float32 batched Viterbi decode.

The tagger's per-token cost is dominated by the Viterbi lattice (measured
~0.7 s of the ~1.45 s single-thread cost per 2k pages — emissions and the
seg/aux channels are an order of magnitude cheaper), and the hot numpy
formulation bottoms out at ~5 us/token because ``argmax`` over the L-sized
candidate axis is a scalar loop. The same DP as straight C with the
first-occurrence strict-``>`` blend vectorizes to ~0.7 us/token.

Bitwise contract (gated in tests/test_viterbi_native.py): the C kernel
performs EXACTLY the float32 adds of the numpy path
(``kernel.perceptron.viterbi_paths_numpy``) in the same order —
``dp[a] + T[a, j]``, winner = first ``a`` attaining the maximum (strict
``>`` blend == ``argmax`` first-max tie-break), ``dp' = best + E[i]`` —
so decoded paths are identical bit for bit, not just tag-equal.

Toolchain safety: the kernel is OPTIONAL. ``viterbi_lib()`` compiles the
embedded source with the system cc at first use and returns None on ANY
failure — no compiler, no dlopen, any OSError, an unsafe cache — in which
case callers keep the numpy path. The .so is cached in a per-user
directory under $TMPDIR (``sokg_viterbi_cache_<uid>``, created 0700) and
is loaded only when that directory and the file are owned by this user and
writable by nobody else; another user who pre-creates the directory or
plants a .so gets the numpy path, not code execution. The file name keys
on the source hash AND the machine/host, because ``-march=native`` code
built on one CPU can SIGILL on another when $TMPDIR is shared. Writes go
through an atomic rename so concurrent executor processes cannot see a
partial .so. Nothing outside this module changes behavior when the kernel
is unavailable.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import platform
import stat
import subprocess
import tempfile
from typing import Optional

_SRC = r"""
#include <stdint.h>

/* Exact float32 Viterbi over a batch of same-length sentences.
   E: (B, n, L) emissions; T: (L+1, L) transitions, row L = START.
   paths: (B, n) int64 out; dp/best: (L,) f32 scratch; back: (n, L) i32
   scratch. Bitwise-identical to the numpy path: same float32 adds,
   strict-> first-occurrence argmax tie-breaks. */
void viterbi_batch(const float *E, const float *T,
                   int64_t B, int64_t n, int64_t L,
                   int64_t *paths, float *dp, float *best, int32_t *back)
{
    const float *tstart = T + L * L;
    for (int64_t b = 0; b < B; ++b) {
        const float *Eb = E + b * n * L;
        for (int64_t j = 0; j < L; ++j) dp[j] = tstart[j] + Eb[j];
        for (int64_t i = 1; i < n; ++i) {
            const float *Ei = Eb + i * L;
            int32_t *bi = back + i * L;
            for (int64_t j = 0; j < L; ++j) {
                best[j] = dp[0] + T[j];
                bi[j] = 0;
            }
            for (int64_t a = 1; a < L; ++a) {
                const float *ta = T + a * L;
                const float da = dp[a];
                for (int64_t j = 0; j < L; ++j) {
                    float v = da + ta[j];
                    if (v > best[j]) { best[j] = v; bi[j] = (int32_t)a; }
                }
            }
            for (int64_t j = 0; j < L; ++j) dp[j] = best[j] + Ei[j];
        }
        float bv = dp[0]; int64_t jb = 0;
        for (int64_t j = 1; j < L; ++j)
            if (dp[j] > bv) { bv = dp[j]; jb = j; }
        int64_t *pb = paths + b * n;
        pb[n - 1] = jb;
        for (int64_t i = n - 1; i > 0; --i)
            pb[i - 1] = (int64_t)back[i * L + pb[i]];
    }
}
"""

_CACHED: dict = {}


def _private(path: str, is_dir: bool) -> bool:
    """True when ``path`` is a real (non-symlink) directory or file owned
    by this user and writable by no one else."""
    st = os.lstat(path)
    kind = stat.S_ISDIR(st.st_mode) if is_dir else stat.S_ISREG(st.st_mode)
    return (kind and st.st_uid == os.getuid()
            and not st.st_mode & (stat.S_IWGRP | stat.S_IWOTH))


def _build() -> Optional[ctypes.CDLL]:
    tag = hashlib.sha256("\0".join(
        (_SRC, platform.machine(), platform.node())).encode()).hexdigest()[:16]
    cache_dir = os.path.join(tempfile.gettempdir(),
                             f"sokg_viterbi_cache_{os.getuid()}")
    so_path = os.path.join(cache_dir, f"viterbi_{tag}.so")
    try:
        os.makedirs(cache_dir, mode=0o700, exist_ok=True)
        if not _private(cache_dir, is_dir=True):
            return None
        if not os.path.exists(so_path):
            src_path = os.path.join(cache_dir, f"viterbi_{tag}.c")
            with open(src_path, "w") as f:
                f.write(_SRC)
            tmp_so = os.path.join(cache_dir,
                                  f".viterbi_{tag}.{os.getpid()}.so")
            subprocess.run(
                ["cc", "-O3", "-march=native", "-funroll-loops", "-shared",
                 "-fPIC", "-o", tmp_so, src_path],
                check=True, capture_output=True, timeout=120)
            os.chmod(tmp_so, 0o700)  # a group-writable umask must not stick
            os.rename(tmp_so, so_path)  # atomic: readers never see partial
        if not _private(so_path, is_dir=False):
            return None
        lib = ctypes.CDLL(so_path)
        lib.viterbi_batch.argtypes = [
            ctypes.POINTER(ctypes.c_float), ctypes.POINTER(ctypes.c_float),
            ctypes.c_int64, ctypes.c_int64, ctypes.c_int64,
            ctypes.POINTER(ctypes.c_int64), ctypes.POINTER(ctypes.c_float),
            ctypes.POINTER(ctypes.c_float), ctypes.POINTER(ctypes.c_int32)]
        lib.viterbi_batch.restype = None
        return lib
    except Exception:
        return None


def viterbi_lib() -> Optional[ctypes.CDLL]:
    """The compiled kernel for THIS process, or None when unavailable.
    Keyed by pid so a forked Python worker re-opens its own handle."""
    pid = os.getpid()
    hit = _CACHED.get(pid)
    if hit is None and pid not in _CACHED:
        _CACHED.clear()  # drop any pre-fork handle
        _CACHED[pid] = hit = _build()
    return hit


def viterbi_paths(lib: ctypes.CDLL, E, T) -> "object":
    """Decode one same-length batch: E (B, n, L), T (L+1, L), both float32
    and C-contiguous -> paths (B, n) int64. The kernel reads raw pointers,
    so any other dtype, layout or shape returns None (callers then take
    the numpy path) instead of decoding garbage."""
    import numpy as np

    if E.ndim != 3 or T.ndim != 2:
        return None
    B, n, L = E.shape
    if not (E.dtype == T.dtype == np.float32 and T.shape == (L + 1, L)
            and E.flags.c_contiguous and T.flags.c_contiguous):
        return None
    paths = np.empty((B, n), dtype=np.int64)
    dp = np.empty(L, dtype=np.float32)
    best = np.empty(L, dtype=np.float32)
    back = np.empty((n, L), dtype=np.int32)
    f32p = ctypes.POINTER(ctypes.c_float)
    lib.viterbi_batch(
        E.ctypes.data_as(f32p), T.ctypes.data_as(f32p),
        B, n, L,
        paths.ctypes.data_as(ctypes.POINTER(ctypes.c_int64)),
        dp.ctypes.data_as(f32p), best.ctypes.data_as(f32p),
        back.ctypes.data_as(ctypes.POINTER(ctypes.c_int32)))
    return paths
