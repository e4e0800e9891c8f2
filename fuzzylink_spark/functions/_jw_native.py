"""Native (C, via ctypes) Jaro-Winkler cross kernel.

The numpy 2-D kernel in ``strdist`` is memory-bandwidth-bound at ~0.25 M
pairs/s/core; the same greedy bit-parallel algorithm in C runs the whole
matching loop in registers (~10x). This module compiles the C source
once per machine into a content-addressed shared object under a
per-user cache dir (atomic rename, so concurrent Spark Python workers race
safely) and exposes ``jw_cross_native``. The cache dir
(``FUZZYLINK_NATIVE_CACHE``, default ``<tmpdir>/fuzzylink_native-<uid>``,
created 0700) is refused unless the current user owns it and no one else
can write to it: another user could otherwise plant the shared object
that ``ctypes`` loads. A refused dir, a missing compiler or any other
build failure degrades to ``None`` (logged once at WARN) and the caller
keeps the numpy path.

Bit-identity contract (pinned by tests/test_jaro_winkler.py): every float64
expression is written in exactly the order the numpy kernel evaluates it
(IEEE 754 double ops are exactly rounded, so equal operand order means
equal bits), the greedy lowest-bit matching is identical integer logic,
and the compile uses -O2 WITHOUT -ffast-math.
"""

from __future__ import annotations

import ctypes
import hashlib
import logging
import os
import subprocess
import tempfile

import numpy as np

_SRC = r"""
#include <stdint.h>
#include <string.h>

typedef unsigned long long u64;

/* One x-side string against one y-side table; strings <= 64 chars
   (codepoints as int32, rows padded with -1). Caller guarantees
   1 <= xlens[i] <= 64; ylens may be 0 or > 64 (such columns score 0 /
   garbage the Python caller overwrites via its scalar fallback). */
void jw_cross(const int32_t *xcodes, const int32_t *xlens, int nx, int sx,
              const int32_t *ycodes, const int32_t *ylens, int ny, int sy,
              double p, double *out)
{
    /* per-y code -> position-mask tables: direct-mapped for ASCII
       (codepoints < 128, the overwhelmingly common case), insertion-
       sorted arrays for the rest */
    static __thread u64 cm_ascii[128];
    static __thread int32_t uc_buf[64];
    static __thread u64 um_buf[64];

    for (int yi = 0; yi < ny; yi++) {
        const int32_t *yc = ycodes + (size_t)yi * sy;
        int ly = ylens[yi];
        int lyc = ly > 64 ? 0 : ly;   /* >64-char y: empty table */
        int K = 0;
        memset(cm_ascii, 0, sizeof(cm_ascii));
        for (int j = 0; j < lyc; j++) {
            int32_t c = yc[j];
            if (c < 128) {
                cm_ascii[c] |= 1ULL << j;
                continue;
            }
            int lo = 0, hi = K;
            while (lo < hi) {
                int mid = (lo + hi) >> 1;
                if (uc_buf[mid] < c) lo = mid + 1; else hi = mid;
            }
            if (lo < K && uc_buf[lo] == c) {
                um_buf[lo] |= 1ULL << j;
            } else {
                memmove(uc_buf + lo + 1, uc_buf + lo,
                        (size_t)(K - lo) * sizeof(int32_t));
                memmove(um_buf + lo + 1, um_buf + lo,
                        (size_t)(K - lo) * sizeof(u64));
                uc_buf[lo] = c;
                um_buf[lo] = 1ULL << j;
                K++;
            }
        }
        for (int xi = 0; xi < nx; xi++) {
            const int32_t *xc = xcodes + (size_t)xi * sx;
            int lx = xlens[xi];
            double *o = out + (size_t)xi * ny + yi;
            if (lx == ly && lyc && memcmp(xc, yc, (size_t)lx * 4) == 0) {
                *o = 1.0;           /* identical strings: exactly 1 */
                continue;
            }
            int lmax = lx > ly ? lx : ly;
            int w = lmax / 2 - 1;
            if (w < 0) w = 0;
            u64 used = 0;
            int m = 0;
            int32_t seqx[64];
            for (int i = 0; i < lx; i++) {
                int32_t c = xc[i];
                u64 cm;
                if (c < 128) {
                    cm = cm_ascii[c];
                } else {
                    int lo = 0, hi = K;
                    while (lo < hi) {
                        int mid = (lo + hi) >> 1;
                        if (uc_buf[mid] < c) lo = mid + 1; else hi = mid;
                    }
                    cm = (lo < K && uc_buf[lo] == c) ? um_buf[lo] : 0;
                }
                if (!cm) continue;
                int hib = i + w + 1; if (hib > lyc) hib = lyc;
                int lob = i - w; if (lob < 0) lob = 0;
                u64 win = (hib >= 64 ? ~0ULL : ((1ULL << hib) - 1))
                          & ~((1ULL << lob) - 1);
                u64 cand = cm & win & ~used;
                if (cand) {
                    used |= cand & (~cand + 1);
                    seqx[m++] = c;
                }
            }
            double jw;
            if (m == 0) {
                jw = 0.0;
            } else {
                int tc = 0, k = 0;
                u64 u = used;
                while (u) {
                    int b = __builtin_ctzll(u);
                    u &= u - 1;
                    if (yc[b] != seqx[k]) tc++;
                    k++;
                }
                double t = tc / 2.0;
                double dm = (double)m;
                int ly1 = ly > 1 ? ly : 1;
                double jaro = ((double)m / (double)lx
                               + (double)m / (double)ly1
                               + (dm - t) / dm) / 3.0;
                int prefix = 0;
                int kp = lx < 4 ? lx : 4;
                if (lyc < kp) kp = lyc;
                for (int q = 0; q < kp && xc[q] == yc[q]; q++) prefix++;
                jw = jaro + (double)prefix * p * (1.0 - jaro);
            }
            *o = jw;
        }
    }
}
"""


def _cache_dir() -> str:
    """The native-kernel cache dir, created 0700 if missing; raises
    PermissionError unless it is owned by this user and not group- or
    world-writable."""
    uid = os.getuid()
    cache_dir = os.environ.get("FUZZYLINK_NATIVE_CACHE") or os.path.join(
        tempfile.gettempdir(), f"fuzzylink_native-{uid}")
    os.makedirs(cache_dir, mode=0o700, exist_ok=True)
    st = os.stat(cache_dir)
    if st.st_uid != uid or st.st_mode & 0o022:
        raise PermissionError(
            f"native kernel cache {cache_dir} (owner uid {st.st_uid}, mode "
            f"{st.st_mode & 0o777:o}) must be owned by uid {uid} and not "
            "group- or world-writable")
    return cache_dir


def _build():
    h = hashlib.sha256(_SRC.encode()).hexdigest()[:16]
    cache_dir = _cache_dir()
    so = os.path.join(cache_dir, f"jw_{h}.so")
    if not os.path.exists(so):
        src = os.path.join(cache_dir, f"jw_{h}.c")
        tmp = f"{so}.{os.getpid()}.tmp"
        with open(src, "w") as f:
            f.write(_SRC)
        subprocess.run(
            ["cc", "-O2", "-shared", "-fPIC", "-o", tmp, src],
            check=True, capture_output=True, timeout=120,
        )
        os.replace(tmp, so)  # atomic: concurrent workers race safely
    lib = ctypes.CDLL(so)
    fn = lib.jw_cross
    i32p = ctypes.POINTER(ctypes.c_int32)
    fn.argtypes = [i32p, i32p, ctypes.c_int, ctypes.c_int,
                   i32p, i32p, ctypes.c_int, ctypes.c_int,
                   ctypes.c_double, ctypes.POINTER(ctypes.c_double)]
    fn.restype = None
    return fn


_FN = None
_TRIED = False


def jw_cross_native():
    """The compiled kernel, or None when it cannot be built or loaded
    safely (callers keep the numpy path). Lazy: first call compiles/loads;
    a failure is logged once per process."""
    global _FN, _TRIED
    if not _TRIED:
        _TRIED = True
        try:
            _FN = _build()
        except Exception as exc:  # noqa: BLE001 — no compiler/cache: numpy fallback
            _FN = None
            logging.getLogger(__name__).warning(
                "native Jaro-Winkler kernel unavailable, using the numpy "
                "kernel: %s", exc)
    return _FN


def jw_cross_c(fn, xcodes: np.ndarray, xlens: np.ndarray,
               ycodes: np.ndarray, ylens: np.ndarray, p: float) -> np.ndarray:
    """Invoke the native kernel on padded code matrices (int32, row-major
    contiguous). Returns the (nx, ny) float64 JW matrix."""
    nx, sx = xcodes.shape
    ny, sy = ycodes.shape
    out = np.empty((nx, ny), dtype=np.float64)
    i32p = ctypes.POINTER(ctypes.c_int32)
    xl = np.ascontiguousarray(xlens, dtype=np.int32)
    yl = np.ascontiguousarray(ylens, dtype=np.int32)
    fn(xcodes.ctypes.data_as(i32p), xl.ctypes.data_as(i32p),
       ctypes.c_int(nx), ctypes.c_int(sx),
       ycodes.ctypes.data_as(i32p), yl.ctypes.data_as(i32p),
       ctypes.c_int(ny), ctypes.c_int(sy),
       ctypes.c_double(p),
       out.ctypes.data_as(ctypes.POINTER(ctypes.c_double)))
    return out
