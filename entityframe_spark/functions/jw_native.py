"""Native (C, via ctypes) pair-scoring kernels: Levenshtein,
Jaro-Winkler, hash-set intersect sizes, and LSH band hashes.

Why this exists: per-pair scoring in Python or numpy was the q1
bottleneck. This host's numpy pays ~1000x on every FRESH allocation
(first-touch page zeroing; even ``np.arange`` of 200k elements takes
~0.3s), and a numpy Jaro-Winkler batch allocates O(positions)
temporaries per batch — measured ~1.3k pairs/s/core, 37s of a 104s
query. The C kernels are the textbook scalar algorithms (bit-for-bit
the semantics of ``similarity._jaro_winkler`` and ``_lev_sim_py``,
property-tested against them) with zero heap allocation per pair; they
run at >200k pairs/s/core.

Pair scoring has ONE entry point: ``score_gather`` scores (li, ri)
record-index pairs over a packed per-record feature table; both Arrow
routes of ``pipeline.scoring.score_pairs`` call it. ``lev_jw_batch_*``
score plain string pairs (kernel microbenchmarks, tests).

Deployment: ``functions/_native.py`` (the loader shared with
``uf_native`` and ``b3_native``) compiles the C source lazily, once
per host, into a per-user cache dir. gcc/cc is assumed present
(standard on cluster images); if compilation fails the loader warns
once and ``score_gather`` runs the pure-Python batch, with identical
values, instead.
"""

from __future__ import annotations

import ctypes

import numpy as np

from entityframe_spark.functions import _native
from entityframe_spark.functions._native import tune_allocator

_C_SOURCE = r"""
#include <stdint.h>
#include <string.h>

/* Jaro-Winkler over one pair of codepoint strings. Semantics match
   the scalar reference implementation exactly: equal -> 1.0; empty
   side -> 0.0; window = max(l1,l2)/2 - 1 (>=0); greedy left-to-right
   matching with availability flags; transpositions = mismatched
   aligned matched chars / 2; Winkler boost (prefix <= 4) iff
   jaro > 0.7. */
/* Bit-parallel variant of the greedy Jaro matching (r6): for each
   pattern char, candidates = Peq2[c] & window-mask & avail, and the
   LOWEST SET BIT is exactly the lowest available matching j in the
   window — i.e. the identical greedy choice the scalar loop makes,
   at ~word granularity instead of per-char scanning. Used for
   strings <= 512 codepoints (W <= 8 words); longer inputs take the
   scalar path below. Static scratch: single-threaded per worker
   process, same contract as the Myers kernel. */
static uint32_t jw_keys[1024];
static uint64_t jw_peq[1024 * 8];

static double jw_one_bp(const uint32_t* s1, int l1, const uint32_t* s2,
                        int l2, double prefix_weight)
{
    int W = (l2 + 63) >> 6;
    int W1 = (l1 + 63) >> 6;
    int window = (l1 > l2 ? l1 : l2) / 2 - 1;
    if (window < 0) window = 0;
    int tbits = 3;
    while ((1 << tbits) < 2 * l2) tbits++;
    int tmask = (1 << tbits) - 1;
    memset(jw_keys, 0xFF, ((size_t)tmask + 1) * sizeof(uint32_t));
    for (int j = 0; j < l2; j++) {
        uint32_t c = s2[j];
        uint32_t h = (c * 2654435761u) >> (32 - tbits);
        for (;;) {
            if (jw_keys[h] == 0xFFFFFFFFu) {
                jw_keys[h] = c;
                memset(jw_peq + (size_t)h * W, 0, (size_t)W * 8);
                break;
            }
            if (jw_keys[h] == c) break;
            h = (h + 1) & tmask;
        }
        jw_peq[(size_t)h * W + (j >> 6)] |= 1ull << (j & 63);
    }
    uint64_t avail[8], flags1b[8];
    for (int b = 0; b < W; b++) avail[b] = ~0ull;
    if (l2 & 63) avail[W - 1] = (1ull << (l2 & 63)) - 1;
    memset(flags1b, 0, sizeof flags1b);
    int matches = 0;
    for (int i = 0; i < l1; i++) {
        int lo = i - window; if (lo < 0) lo = 0;
        int hi = i + window + 1; if (hi > l2) hi = l2;
        if (lo >= hi) continue;
        uint32_t c = s1[i];
        uint32_t h = (c * 2654435761u) >> (32 - tbits);
        const uint64_t* pe = 0;
        for (;;) {
            if (jw_keys[h] == 0xFFFFFFFFu) break;
            if (jw_keys[h] == c) { pe = jw_peq + (size_t)h * W; break; }
            h = (h + 1) & tmask;
        }
        if (!pe) continue;
        int blo = lo >> 6, bhi = (hi - 1) >> 6;
        for (int b = blo; b <= bhi; b++) {
            uint64_t m = pe[b] & avail[b];
            if (b == blo) m &= ~0ull << (lo & 63);
            if (b == bhi && (hi & 63)) m &= (1ull << (hi & 63)) - 1;
            if (m) {
                int jbit = __builtin_ctzll(m);
                avail[b] &= ~(1ull << jbit);
                flags1b[i >> 6] |= 1ull << (i & 63);
                matches++;
                break;
            }
        }
    }
    if (matches == 0) return 0.0;
    uint64_t used[8];
    for (int b = 0; b < W; b++) used[b] = ~avail[b];
    if (l2 & 63) used[W - 1] &= (1ull << (l2 & 63)) - 1;
    int trans2 = 0;
    int bj = 0;
    uint64_t wj = used[0];
    for (int bi = 0; bi < W1; bi++) {
        uint64_t wi = flags1b[bi];
        while (wi) {
            int i = (bi << 6) + __builtin_ctzll(wi);
            wi &= wi - 1;
            while (!wj) { bj++; wj = used[bj]; }
            int j = (bj << 6) + __builtin_ctzll(wj);
            wj &= wj - 1;
            if (s1[i] != s2[j]) trans2++;
        }
    }
    double t = trans2 / 2.0;
    double m = (double)matches;
    double jv = (m / l1 + m / l2 + (m - t) / m) / 3.0;
    if (jv > 0.7) {
        int pmax = l1 < l2 ? l1 : l2;
        if (pmax > 4) pmax = 4;
        int p = 0;
        for (int i = 0; i < pmax; i++) {
            if (s1[i] == s2[i]) p++; else break;
        }
        jv = jv + p * prefix_weight * (1.0 - jv);
    }
    return jv;
}

static double jw_one(const uint32_t* s1, int l1, const uint32_t* s2,
                     int l2, double prefix_weight)
{
    unsigned char flags1[4096];
    unsigned char flags2[4096];
    if (l1 > 4096) l1 = 4096;
    if (l2 > 4096) l2 = 4096;
    if (l1 == l2 && memcmp(s1, s2, (size_t)l1 * 4) == 0) return 1.0;
    if (l1 == 0 || l2 == 0) return 0.0;
    if (l1 <= 512 && l2 <= 512) return jw_one_bp(s1, l1, s2, l2, prefix_weight);
    int window = (l1 > l2 ? l1 : l2) / 2 - 1;
    if (window < 0) window = 0;
    memset(flags1, 0, (size_t)l1);
    memset(flags2, 0, (size_t)l2);
    int matches = 0;
    for (int i = 0; i < l1; i++) {
        int lo = i - window; if (lo < 0) lo = 0;
        int hi = i + window + 1; if (hi > l2) hi = l2;
        uint32_t c = s1[i];
        for (int j = lo; j < hi; j++) {
            if (!flags2[j] && s2[j] == c) {
                flags1[i] = 1; flags2[j] = 1; matches++;
                break;
            }
        }
    }
    if (matches == 0) return 0.0;
    int k = 0, trans2 = 0;
    for (int i = 0; i < l1; i++) {
        if (flags1[i]) {
            while (!flags2[k]) k++;
            if (s1[i] != s2[k]) trans2++;
            k++;
        }
    }
    double t = trans2 / 2.0;
    double m = (double)matches;
    double j = (m / l1 + m / l2 + (m - t) / m) / 3.0;
    if (j > 0.7) {
        int pmax = l1 < l2 ? l1 : l2;
        if (pmax > 4) pmax = 4;
        int p = 0;
        for (int i = 0; i < pmax; i++) {
            if (s1[i] == s2[i]) p++; else break;
        }
        j = j + p * prefix_weight * (1.0 - j);
    }
    return j;
}

/* Exact Levenshtein distance via Myers' bit-parallel algorithm
   (Myers, JACM 1999), block-based for patterns > 64 codepoints
   (Hyyro, "A Bit-Vector Algorithm for Computing Levenshtein and
   Damerau Edit Distances", 2003 — the same formulation battle-tested
   in edlib). Distances are IDENTICAL to the plain O(l1*l2) DP this
   replaced (pinned by the JVM-levenshtein parity test); the work per
   text char drops from l1 cell updates to ceil(l1/64) word ops.
   Common prefix/suffix are trimmed first (edit-distance preserving),
   which near-duplicate candidate pairs hit hard.

   Static scratch => NOT thread-safe; each PySpark worker is its own
   process and calls the kernel from one thread. Max pattern 1024
   (lev_one caps inputs) -> W <= 16 blocks, table <= 2048 slots. */
static uint32_t lev_keys[2048];
static uint64_t lev_peq[2048 * 16];

static int lev_dist(const uint32_t* s1, int l1, const uint32_t* s2, int l2)
{
    while (l1 > 0 && l2 > 0 && *s1 == *s2) { s1++; s2++; l1--; l2--; }
    while (l1 > 0 && l2 > 0 && s1[l1 - 1] == s2[l2 - 1]) { l1--; l2--; }
    if (l1 == 0) return l2;
    if (l2 == 0) return l1;
    const uint32_t *p = s1, *t = s2;
    int m = l1, n = l2;
    if (m > n) { p = s2; t = s1; m = l2; n = l1; }   /* fewer blocks */
    int W = (m + 63) >> 6;
    int tbits = 3;
    while ((1 << tbits) < 2 * m) tbits++;
    int tmask = (1 << tbits) - 1;
    /* build Peq: open-addressed pattern-codepoint -> W-word mask
       (0xFFFFFFFF is not a valid codepoint => safe empty marker) */
    memset(lev_keys, 0xFF, ((size_t)tmask + 1) * sizeof(uint32_t));
    for (int i = 0; i < m; i++) {
        uint32_t c = p[i];
        uint32_t h = (c * 2654435761u) >> (32 - tbits);
        for (;;) {
            if (lev_keys[h] == 0xFFFFFFFFu) {
                lev_keys[h] = c;
                memset(lev_peq + (size_t)h * W, 0, (size_t)W * 8);
                break;
            }
            if (lev_keys[h] == c) break;
            h = (h + 1) & tmask;
        }
        lev_peq[(size_t)h * W + (i >> 6)] |= 1ull << (i & 63);
    }
    uint64_t VP[16], VN[16];
    for (int b = 0; b < W; b++) { VP[b] = ~0ull; VN[b] = 0; }
    uint64_t lastbit = 1ull << ((m - 1) & 63);
    int score = m;
    for (int j = 0; j < n; j++) {
        uint32_t c = t[j];
        uint32_t h = (c * 2654435761u) >> (32 - tbits);
        const uint64_t* Eqp = 0;
        for (;;) {
            if (lev_keys[h] == 0xFFFFFFFFu) break;
            if (lev_keys[h] == c) { Eqp = lev_peq + (size_t)h * W; break; }
            h = (h + 1) & tmask;
        }
        int hin = 1;   /* top boundary row D[0][j] = j */
        for (int b = 0; b < W; b++) {
            uint64_t Eq = Eqp ? Eqp[b] : 0;
            uint64_t Pv = VP[b], Mv = VN[b];
            uint64_t hinneg = (uint64_t)(hin < 0);
            uint64_t Xv = Eq | Mv;
            Eq |= hinneg;
            uint64_t Xh = (((Eq & Pv) + Pv) ^ Pv) | Eq;
            uint64_t Ph = Mv | ~(Xh | Pv);
            uint64_t Mh = Pv & Xh;
            /* horizontal delta at this block's bottom row; for the
               (possibly partial) last block that row is m-1 */
            uint64_t hb = (b == W - 1) ? lastbit : 0x8000000000000000ull;
            int hout = (Ph & hb) ? 1 : ((Mh & hb) ? -1 : 0);
            Ph <<= 1; Mh <<= 1;
            Mh |= hinneg;
            Ph |= (uint64_t)(hin > 0);
            VP[b] = Mh | ~(Xv | Ph);
            VN[b] = Ph & Xv;
            hin = hout;
        }
        score += hin;
    }
    return score;
}

/* Normalised Levenshtein similarity 1 - dist/max(l1,l2) — identical
   semantics to Spark's built-in levenshtein() on truncated inputs.
   Both empty -> 1.0. */
static double lev_one(const uint32_t* s1, int l1, const uint32_t* s2, int l2)
{
    if (l1 > 1024) l1 = 1024;
    if (l2 > 1024) l2 = 1024;
    if (l1 == 0 && l2 == 0) return 1.0;
    if (l1 == 0 || l2 == 0) return 0.0;
    if (l1 == l2 && memcmp(s1, s2, (size_t)l1 * 4) == 0) return 1.0;
    int mx = l1 > l2 ? l1 : l2;
    return 1.0 - lev_dist(s1, l1, s2, l2) / (double)mx;
}

/* Combined scoring kernel: Levenshtein similarity over the full
   (<= width) prefixes and Jaro-Winkler over the first jw_max_len
   codepoints — one pass over the batch, two outputs, zero heap. */
/* la/lb are lengths under the PACK truncation max(lev_max_len,
   jw_max_len); each metric caps its own prefix from there, so both
   are prefixes of the ORIGINAL string regardless of which cap is
   larger (ADVICE r4: the fallback and kernel must agree for any
   cap ordering, not just the 256/128 defaults). */
void lev_jw_batch(const uint32_t* A, const uint32_t* B,
                  const int32_t* la, const int32_t* lb,
                  int64_t n, int32_t width, double prefix_weight,
                  int32_t lev_max_len, int32_t jw_max_len,
                  double* lev_out, double* jw_out)
{
    for (int64_t r = 0; r < n; r++) {
        const uint32_t* s1 = A + r * (int64_t)width;
        const uint32_t* s2 = B + r * (int64_t)width;
        int l1 = la[r], l2 = lb[r];
        int v1 = l1 < lev_max_len ? l1 : lev_max_len;
        int v2 = l2 < lev_max_len ? l2 : lev_max_len;
        lev_out[r] = lev_one(s1, v1, s2, v2);
        int j1 = l1 < jw_max_len ? l1 : jw_max_len;
        int j2 = l2 < jw_max_len ? l2 : jw_max_len;
        jw_out[r] = jw_one(s1, j1, s2, j2, prefix_weight);
    }
}

#include <stdlib.h>

/* ---- pair-scoring kernel: set-intersect sizes + lev + JW in one
   pass, so the whole per-pair feature computation happens here
   instead of as JVM array_intersect (boxed OpenHashSet per pair) + a
   separate string UDF. ---- */

static int sorted64(const int64_t* a, int64_t n)
{
    for (int64_t i = 1; i < n; i++) if (a[i] < a[i - 1]) return 0;
    return 1;
}

static int cmp64(const void* x, const void* y)
{
    int64_t a = *(const int64_t*)x, b = *(const int64_t*)y;
    return a < b ? -1 : (a > b);
}

/* |distinct values common to a and b| — exact parity with
   size(array_intersect(a, b)) (distinct semantics, duplicates in
   either input collapse). Inputs are normally pre-sorted by the
   feature-prep projection; an unsorted side is detected and sorted
   into scratch, so correctness never depends on the caller. */
static int64_t isect_size(const int64_t* a, int64_t na,
                          const int64_t* b, int64_t nb, int64_t* scratch)
{
    if (!sorted64(a, na)) {
        memcpy(scratch, a, (size_t)na * 8);
        qsort(scratch, (size_t)na, 8, cmp64);
        a = scratch; scratch += na;
    }
    if (!sorted64(b, nb)) {
        memcpy(scratch, b, (size_t)nb * 8);
        qsort(scratch, (size_t)nb, 8, cmp64);
        b = scratch;
    }
    int64_t i = 0, j = 0, c = 0;
    while (i < na && j < nb) {
        int64_t va = a[i], vb = b[j];
        if (va < vb) i++;
        else if (va > vb) j++;
        else {
            c++;
            while (i < na && a[i] == va) i++;
            while (j < nb && b[j] == vb) j++;
        }
    }
    return c;
}

/* ---- MinHash/LSH band-hash kernel (r6): shingle -> crc32 ->
   linear-permutation minima -> per-band crc32, per doc, bit-for-bit
   the values of the Python loop it replaces (zlib CRC-32 over the
   UTF-8 bytes of each codepoint shingle; int64 mul-mod against the
   Mersenne prime; band hash over the signature slice's little-endian
   int64 bytes). ---- */

static uint32_t crc_table[256];
static int crc_init_done = 0;

static void crc_init(void)
{
    for (uint32_t n = 0; n < 256; n++) {
        uint32_t c = n;
        for (int k = 0; k < 8; k++)
            c = (c & 1) ? 0xEDB88320u ^ (c >> 1) : c >> 1;
        crc_table[n] = c;
    }
    crc_init_done = 1;
}

static int utf8_enc(uint32_t c, unsigned char* out)
{
    if (c < 0x80) { out[0] = (unsigned char)c; return 1; }
    if (c < 0x800) {
        out[0] = 0xC0 | (c >> 6); out[1] = 0x80 | (c & 0x3F); return 2;
    }
    if (c < 0x10000) {
        out[0] = 0xE0 | (c >> 12); out[1] = 0x80 | ((c >> 6) & 0x3F);
        out[2] = 0x80 | (c & 0x3F); return 3;
    }
    out[0] = 0xF0 | (c >> 18); out[1] = 0x80 | ((c >> 12) & 0x3F);
    out[2] = 0x80 | ((c >> 6) & 0x3F); out[3] = 0x80 | (c & 0x3F); return 4;
}

/* txt: normalised docs as utf-32 codepoints, off: n_docs+1 offsets.
   out: n_docs x bands uint32 band hashes. num_hashes <= 256. */
void lsh_band_hashes(const uint32_t* txt, const int64_t* off,
                     int64_t n_docs, int32_t k,
                     const int64_t* A, const int64_t* B,
                     int32_t num_hashes, int32_t bands, uint32_t* out)
{
    if (!crc_init_done) crc_init();
    const int64_t p = 2147483647LL;  /* 2^31 - 1 */
    int rows = num_hashes / bands;
    int64_t sig[256];
    for (int64_t d = 0; d < n_docs; d++) {
        const uint32_t* s = txt + off[d];
        int64_t n = off[d + 1] - off[d];
        for (int h = 0; h < num_hashes; h++) sig[h] = 0x7FFFFFFFFFFFFFFFLL;
        int64_t shlen = n <= k ? n : k;
        int64_t n_sh = n <= k ? 1 : n - k + 1;
        for (int64_t i = 0; i < n_sh; i++) {
            unsigned char buf[4];
            uint32_t crc = 0xFFFFFFFFu;
            for (int64_t j = 0; j < shlen; j++) {
                int bl = utf8_enc(s[i + j], buf);
                for (int b2 = 0; b2 < bl; b2++)
                    crc = crc_table[(crc ^ buf[b2]) & 0xFF] ^ (crc >> 8);
            }
            int64_t base = (int64_t)(crc ^ 0xFFFFFFFFu);
            for (int h = 0; h < num_hashes; h++) {
                int64_t v = (A[h] * base + B[h]) % p;
                if (v < sig[h]) sig[h] = v;
            }
        }
        for (int b = 0; b < bands; b++) {
            uint32_t crc = 0xFFFFFFFFu;
            for (int r = 0; r < rows; r++) {
                uint64_t v = (uint64_t)sig[(size_t)b * rows + r];
                for (int by = 0; by < 8; by++) {
                    unsigned char byte = (unsigned char)((v >> (8 * by)) & 0xFF);
                    crc = crc_table[(crc ^ byte) & 0xFF] ^ (crc >> 8);
                }
            }
            out[d * bands + b] = crc ^ 0xFFFFFFFFu;
        }
    }
}

/* Per-RECORD feature buffers (gram/token hash arrays, prefix
   codepoints — offsets are n_rec+1, Arrow list layout); each pair is
   (left_index, right_index) into them. The gather route ships the
   table once per worker as a broadcast, so the pair stream carries two
   int64s instead of ~KBs of duplicated per-pair arrays; the join route
   packs each batch's left rows then right rows into the same layout.
   Emits sizes too (the JVM cannot see them without the arrays).
   scratch: caller-owned, >= 2 x the longest gram/token array of any
   record (isect_size sorts at most both sides of one pair into it). */
void score_batch_gather(
    const int64_t* gvals, const int64_t* goff,
    const int64_t* tvals, const int64_t* toff,
    const uint32_t* pvals, const int64_t* poff,
    const int64_t* li, const int64_t* ri, int64_t n_pairs,
    double prefix_weight, int32_t lev_max_len, int32_t jw_max_len,
    int64_t* scratch,
    int32_t* gi_out, int32_t* gl_out, int32_t* gr_out,
    int32_t* ti_out, int32_t* tl_out, int32_t* tr_out,
    double* lev_out, double* jw_out)
{
    for (int64_t r = 0; r < n_pairs; r++) {
        int64_t a = li[r], b = ri[r];
        int64_t ng1 = goff[a + 1] - goff[a], ng2 = goff[b + 1] - goff[b];
        int64_t nt1 = toff[a + 1] - toff[a], nt2 = toff[b + 1] - toff[b];
        gi_out[r] = (int32_t)isect_size(gvals + goff[a], ng1, gvals + goff[b], ng2, scratch);
        ti_out[r] = (int32_t)isect_size(tvals + toff[a], nt1, tvals + toff[b], nt2, scratch);
        gl_out[r] = (int32_t)ng1; gr_out[r] = (int32_t)ng2;
        tl_out[r] = (int32_t)nt1; tr_out[r] = (int32_t)nt2;
        const uint32_t* s1 = pvals + poff[a];
        const uint32_t* s2 = pvals + poff[b];
        int l1 = (int)(poff[a + 1] - poff[a]);
        int l2 = (int)(poff[b + 1] - poff[b]);
        int v1 = l1 < lev_max_len ? l1 : lev_max_len;
        int v2 = l2 < lev_max_len ? l2 : lev_max_len;
        lev_out[r] = lev_one(s1, v1, s2, v2);
        int j1 = l1 < jw_max_len ? l1 : jw_max_len;
        int j2 = l2 < jw_max_len ? l2 : jw_max_len;
        jw_out[r] = jw_one(s1, j1, s2, j2, prefix_weight);
    }
}
"""


def _bind(lib: ctypes.CDLL) -> None:
    lib.lev_jw_batch.argtypes = [
        ctypes.POINTER(ctypes.c_uint32),
        ctypes.POINTER(ctypes.c_uint32),
        ctypes.POINTER(ctypes.c_int32),
        ctypes.POINTER(ctypes.c_int32),
        ctypes.c_int64,
        ctypes.c_int32,
        ctypes.c_double,
        ctypes.c_int32,
        ctypes.c_int32,
        ctypes.POINTER(ctypes.c_double),
        ctypes.POINTER(ctypes.c_double),
    ]
    lib.lev_jw_batch.restype = None
    _i64 = ctypes.POINTER(ctypes.c_int64)
    _u32 = ctypes.POINTER(ctypes.c_uint32)
    _i32o = ctypes.POINTER(ctypes.c_int32)
    lib.score_batch_gather.argtypes = [
        _i64, _i64, _i64, _i64, _u32, _i64,
        _i64, _i64, ctypes.c_int64,
        ctypes.c_double, ctypes.c_int32, ctypes.c_int32, _i64,
        _i32o, _i32o, _i32o, _i32o, _i32o, _i32o,
        ctypes.POINTER(ctypes.c_double), ctypes.POINTER(ctypes.c_double),
    ]
    lib.score_batch_gather.restype = None
    lib.lsh_band_hashes.argtypes = [
        _u32, _i64, ctypes.c_int64, ctypes.c_int32,
        _i64, _i64, ctypes.c_int32, ctypes.c_int32,
        ctypes.POINTER(ctypes.c_uint32),
    ]
    lib.lsh_band_hashes.restype = None


def _lib() -> "ctypes.CDLL | None":
    return _native.load(__name__, _C_SOURCE, _bind)


def native_available() -> bool:
    return _lib() is not None


def _pack(a_strs, b_strs, max_len: int):
    """Truncate + pad both sides to a common width. One
    join+encode+frombuffer per side: pages are touched by the encode,
    so numpy never writes fresh pages (the slow path on this host)."""
    n = len(a_strs)
    a = [(s or "")[:max_len] for s in a_strs]
    b = [(s or "")[:max_len] for s in b_strs]
    la = np.fromiter((len(s) for s in a), dtype=np.int32, count=n)
    lb = np.fromiter((len(s) for s in b), dtype=np.int32, count=n)
    width = int(max(int(la.max()) if n else 0, int(lb.max()) if n else 0, 1))
    bufa = "".join(s.ljust(width, "\0") for s in a).encode("utf-32-le")
    bufb = "".join(s.ljust(width, "\0") for s in b).encode("utf-32-le")
    A = np.frombuffer(bufa, dtype=np.uint32)
    B = np.frombuffer(bufb, dtype=np.uint32)
    return A, B, la, lb, width


def _pack_offsets(strs, max_len: int):
    """Truncate and concatenate WITHOUT padding: one join+encode, plus
    an int64 offsets array (n+1, absolute codepoint indices). Replaces
    the padded _pack for the scoring kernel — the per-row ljust of
    _pack was the dominant Python-side cost once the DP went
    bit-parallel."""
    t = [(s or "")[:max_len] for s in strs]
    n = len(t)
    off = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(np.fromiter((len(s) for s in t), dtype=np.int64, count=n), out=off[1:])
    buf = "".join(t).encode("utf-32-le")
    arr = np.frombuffer(buf, dtype=np.uint32) if buf else np.zeros(1, np.uint32)
    return arr, off


def _u32p(arr):
    return arr.ctypes.data_as(ctypes.POINTER(ctypes.c_uint32))


def _i64p(arr):
    return arr.ctypes.data_as(ctypes.POINTER(ctypes.c_int64))


def _i32p(arr):
    return arr.ctypes.data_as(ctypes.POINTER(ctypes.c_int32))


def _f64p(arr):
    return arr.ctypes.data_as(ctypes.POINTER(ctypes.c_double))


def _lev_sim_py(a: str, b: str) -> float:
    """Scalar normalised Levenshtein similarity — same semantics as the
    C lev_one (plain codepoint DP). Fallback path only."""
    l1, l2 = len(a), len(b)
    if l1 == 0 and l2 == 0:
        return 1.0
    if l1 == 0 or l2 == 0:
        return 0.0
    if a == b:
        return 1.0
    prev = list(range(l2 + 1))
    for i in range(1, l1 + 1):
        cur = [i] + [0] * l2
        ca = a[i - 1]
        for j in range(1, l2 + 1):
            cur[j] = min(
                prev[j - 1] + (b[j - 1] != ca), prev[j] + 1, cur[j - 1] + 1
            )
        prev = cur
    return 1.0 - prev[l2] / max(l1, l2)


def lev_jw_batch_fallback(
    a_strs,
    b_strs,
    lev_max_len: int = 256,
    jw_max_len: int = 128,
    prefix_weight: float = 0.1,
) -> tuple[np.ndarray, np.ndarray]:
    """Pure-Python batch (levenshtein_sim, jaro_winkler) with the same
    truncation semantics as lev_jw_batch_native. _score_gather_py uses
    it when a WORKER has no C compiler (ADVICE r3: a driver-side
    native_available() check does not see compiler-less executors) —
    correctness-identical, just slower."""
    from entityframe_spark.functions.similarity import _jaro_winkler

    tune_allocator()
    n = len(a_strs)
    lev = np.zeros(n, dtype=np.float64)
    jw = np.zeros(n, dtype=np.float64)
    for i in range(n):
        a = a_strs[i] or ""
        b = b_strs[i] or ""
        lev[i] = _lev_sim_py(a[:lev_max_len], b[:lev_max_len])
        # each prefix sliced from the ORIGINAL string, exactly like the
        # native kernel — slicing from the lev-truncated copy diverges
        # whenever jw_max_len > lev_max_len (ADVICE r4)
        jw[i] = _jaro_winkler(a[:jw_max_len], b[:jw_max_len], prefix_weight)
    return lev, jw


def lev_jw_batch_native(
    a_strs,
    b_strs,
    lev_max_len: int = 256,
    jw_max_len: int = 128,
    prefix_weight: float = 0.1,
) -> tuple[np.ndarray, np.ndarray]:
    """Batch (levenshtein_sim, jaro_winkler) in ONE C pass: lev over
    the lev_max_len prefix, JW over the jw_max_len prefix.
    Self-initialising: Spark python workers import this module fresh;
    the .so is compiled or cache-loaded on first call per process."""
    tune_allocator()
    if not native_available():
        raise RuntimeError(
            "native lev/JW kernel unavailable on this worker (no C "
            "compiler?); use lev_jw_batch_fallback"
        )
    n = len(a_strs)
    lev = np.zeros(n, dtype=np.float64)
    jw = np.zeros(n, dtype=np.float64)
    if n == 0:
        return lev, jw
    # pack once at the larger cap; the kernel slices each metric's own
    # prefix from it, so both prefixes come from the ORIGINAL string
    # whichever cap is larger (parity with lev_jw_batch_fallback)
    A, B, la, lb, width = _pack(a_strs, b_strs, max(lev_max_len, jw_max_len))
    _lib().lev_jw_batch(
        _u32p(A), _u32p(B), _i32p(la), _i32p(lb),
        n, width, float(prefix_weight), int(lev_max_len), int(jw_max_len),
        _f64p(lev), _f64p(jw),
    )
    return lev, jw


def lsh_band_hashes_native(
    txt: np.ndarray,
    off: np.ndarray,
    shingle_k: int,
    A: np.ndarray,
    B: np.ndarray,
    num_hashes: int,
    bands: int,
) -> np.ndarray:
    """Per-doc LSH band hashes from packed utf-32 docs (see
    _pack_offsets) — bit-identical to the Python
    shingle/crc32/minhash/band loop. Returns (n_docs, bands) uint32."""
    tune_allocator()
    if not native_available():
        raise RuntimeError(
            "native LSH kernel unavailable on this worker (no C compiler?)"
        )
    if num_hashes > 256:
        raise ValueError("num_hashes must be <= 256 for the native kernel")
    n_docs = len(off) - 1
    out = np.zeros((n_docs, int(bands)), dtype=np.uint32)
    if n_docs == 0:
        return out
    A = np.ascontiguousarray(A, dtype=np.int64)
    B = np.ascontiguousarray(B, dtype=np.int64)
    _lib().lsh_band_hashes(
        _u32p(txt), _i64p(np.ascontiguousarray(off, dtype=np.int64)),
        n_docs, int(shingle_k), _i64p(A), _i64p(B),
        int(num_hashes), int(bands),
        ctypes.cast(out.ctypes.data, ctypes.POINTER(ctypes.c_uint32)),
    )
    return out


def score_gather(
    feat: tuple,
    li: np.ndarray,
    ri: np.ndarray,
    lev_max_len: int = 256,
    jw_max_len: int = 128,
    prefix_weight: float = 0.1,
):
    """Score pairs of records of a packed feature table. ``feat`` is
    (gvals, goff, tvals, toff, pvals, poff): int64 gram/token hash
    buffers and uint32 prefix codepoints, each with n_rec+1 absolute
    offsets (Arrow list layout); li/ri are per-pair RECORD INDICES into
    it. Intersect sizes have distinct-value semantics (exact parity
    with size(array_intersect)); lev is over the lev_max_len prefix, JW
    over the jw_max_len prefix. Returns (gi, gl, gr, ti, tl, tr, lev,
    jw): int32 intersect and per-side sizes, float64 similarities.

    Runs the C kernel when it loads in this process, else
    _score_gather_py with identical values: a cluster can have
    compiler-less executors even when the driver compiled fine."""
    tune_allocator()
    li = np.ascontiguousarray(li, dtype=np.int64)
    ri = np.ascontiguousarray(ri, dtype=np.int64)
    gvals, goff, tvals, toff, pvals, poff = feat
    n = len(li)
    if n and not (
        0 <= min(li.min(), ri.min()) <= max(li.max(), ri.max()) < len(goff) - 1
    ):
        # the kernel would read outside the table and crash the worker
        raise IndexError("score_gather: record index outside the feature table")
    if not native_available():
        return _score_gather_py(
            feat, li, ri, lev_max_len, jw_max_len, prefix_weight
        )
    out_i = [np.zeros(n, dtype=np.int32) for _ in range(6)]
    lev = np.zeros(n, dtype=np.float64)
    jw = np.zeros(n, dtype=np.float64)
    if n == 0:
        return (*out_i, lev, jw)
    # isect_size sorts at most both sides of one pair into scratch
    widest = max(np.diff(goff).max(initial=0), np.diff(toff).max(initial=0))
    scratch = np.empty(2 * int(widest) + 1, dtype=np.int64)
    _lib().score_batch_gather(
        _i64p(gvals), _i64p(goff), _i64p(tvals), _i64p(toff),
        _u32p(pvals), _i64p(poff),
        _i64p(li), _i64p(ri), n,
        float(prefix_weight), int(lev_max_len), int(jw_max_len),
        _i64p(scratch),
        *(_i32p(a) for a in out_i),
        _f64p(lev), _f64p(jw),
    )
    return (*out_i, lev, jw)


def _score_gather_py(
    feat: tuple,
    li: np.ndarray,
    ri: np.ndarray,
    lev_max_len: int = 256,
    jw_max_len: int = 128,
    prefix_weight: float = 0.1,
):
    """Pure-Python twin of the C score_batch_gather (same inputs,
    outputs and values) for workers without a C compiler."""
    gvals, goff, tvals, toff, pvals, poff = feat
    n = len(li)

    def sizes(off):
        return (
            (off[li + 1] - off[li]).astype(np.int32),
            (off[ri + 1] - off[ri]).astype(np.int32),
        )

    def isect(vals, off):
        return np.fromiter(
            (
                len(
                    set(vals[off[a]:off[a + 1]].tolist())
                    & set(vals[off[c]:off[c + 1]].tolist())
                )
                for a, c in zip(li, ri)
            ),
            np.int32,
            count=n,
        )

    def text(i):
        return pvals[poff[i]:poff[i + 1]].tobytes().decode("utf-32-le")

    gl, gr = sizes(goff)
    tl, tr = sizes(toff)
    lev, jw = lev_jw_batch_fallback(
        [text(a) for a in li], [text(c) for c in ri],
        lev_max_len, jw_max_len, prefix_weight,
    )
    return isect(gvals, goff), gl, gr, isect(tvals, toff), tl, tr, lev, jw
