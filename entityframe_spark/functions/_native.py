"""Shared loader for the C kernels of ``jw_native``, ``uf_native`` and
``b3_native``.

:func:`load` compiles a module's C source lazily, once per host, into
a content-addressed ``.so`` in a per-user 0700 cache dir (atomic
rename, so concurrent workers race safely), checks the file's owner
and dlopens it. When that fails (no ``cc`` on the worker, a compiler
error, a foreign-owned cache) it warns ONCE per module per process,
naming the module and the compiler's stderr tail or the load error,
and the module's callers run its pure-Python twins, same values.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess
import tempfile
import threading
import warnings
from typing import Callable

_libs: dict[str, "ctypes.CDLL | None"] = {}
_lock = threading.Lock()
_alloc_tuned = False


def tune_allocator() -> None:
    """Keep large batch buffers on the glibc heap instead of mmap.

    Why: every scoring batch builds multi-MB temporaries (the utf-32
    pack buffers, pandas/Arrow intermediates). glibc serves
    allocations > M_MMAP_THRESHOLD (128 KB default) via mmap and
    returns them to the OS on free — so EVERY batch faults fresh
    zeroed pages, and this host's page-zeroing path is a contended
    resource that anti-scales with thread count (BENCH.md: 0.60 GiB/s
    at 8 threads -> 0.20 at 32). Raising the mmap + trim thresholds
    makes freed buffers stay on the heap and be reused warm
    (measured: 3x on single-threaded 10 MB alloc churn; the win grows
    with concurrent workers because the kernel fault path is the
    shared bottleneck). Called once per python worker from the batch
    kernels; harmless elsewhere (slightly higher RSS)."""
    global _alloc_tuned
    if _alloc_tuned:
        return
    _alloc_tuned = True
    try:
        libc = ctypes.CDLL("libc.so.6")
        libc.mallopt(-3, 1 << 29)  # M_MMAP_THRESHOLD = 512 MiB
        libc.mallopt(-1, 1 << 29)  # M_TRIM_THRESHOLD: keep freed heap
    except Exception:
        pass  # non-glibc platform: nothing to tune


def _cache_dir() -> str:
    """Per-user 0700 cache dir (ADVICE r3: a predictable world-writable
    /tmp path lets another local user pre-plant a malicious .so, since
    the source — hence the digest — is public). XDG cache if set, else
    a uid-scoped tmp dir; created 0700 and ownership-verified."""
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        tempfile.gettempdir(), f"ef-native-{os.getuid()}"
    )
    d = os.path.join(base, "entityframe_spark")
    os.makedirs(d, mode=0o700, exist_ok=True)
    st = os.stat(d)
    if st.st_uid != os.getuid() or (st.st_mode & 0o077):
        raise RuntimeError(f"native cache dir {d} is not owned-private; refusing")
    return d


def _compile(tag: str, source: str) -> ctypes.CDLL:
    digest = hashlib.sha256(source.encode()).hexdigest()[:16]
    so_path = os.path.join(_cache_dir(), f"ef_{tag}_{digest}.so")
    if not os.path.exists(so_path):
        src = so_path + f".{os.getpid()}.c"
        tmp_so = so_path + f".{os.getpid()}.tmp"
        with open(src, "w") as f:
            f.write(source)
        try:
            subprocess.run(
                ["cc", "-O3", "-shared", "-fPIC", "-o", tmp_so, src],
                check=True,
                capture_output=True,
                timeout=60,
            )
            os.replace(tmp_so, so_path)  # atomic: concurrent workers race safely
        finally:
            for p in (src, tmp_so):
                try:
                    os.unlink(p)
                except OSError:
                    pass
    st = os.stat(so_path)
    if st.st_uid != os.getuid():
        raise RuntimeError(f"{so_path} not owned by current user; refusing to dlopen")
    return ctypes.CDLL(so_path)


def _reason(exc: Exception) -> str:
    """The last lines of the compiler's stderr, else the error itself."""
    stderr = getattr(exc, "stderr", None)
    if stderr:
        tail = stderr.decode(errors="replace").strip().splitlines()[-5:]
        return "cc: " + " | ".join(tail)
    return f"{type(exc).__name__}: {exc}"


def load(
    module: str, source: str, bind: Callable[[ctypes.CDLL], None]
) -> "ctypes.CDLL | None":
    """The bound kernel library of ``module`` (a kernel module's
    ``__name__``, e.g. ``entityframe_spark.functions.uf_native``), or
    None when it cannot be compiled or loaded in this process. Tried
    once per process; a failure warns once and is remembered."""
    if module in _libs:
        return _libs[module]
    with _lock:  # one compile per process, one warning per module
        if module not in _libs:
            tag = module.rsplit(".", 1)[-1].removesuffix("_native")
            try:
                lib = _compile(tag, source)
                bind(lib)
            except Exception as exc:  # fall back to the Python twins, loudly
                lib = None
                warnings.warn(
                    f"{module}: C kernels unavailable, running the pure-Python "
                    f"twins instead ({_reason(exc)})",
                    RuntimeWarning,
                    stacklevel=3,
                )
            _libs[module] = lib
    return _libs[module]
