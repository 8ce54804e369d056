"""Which engine module the driver's main thread is in, over time.

A job whose call site does not name an engine file still started inside
one: ``localCheckpoint`` goes straight to the JVM, and a ``pyspark.ml``
fit is named after the caller of ``Estimator.fit``.  While the job is
submitted, the main thread sits in the py4j call that an engine frame
made, so a sampled stack attributes the job.
"""

from __future__ import annotations

import bisect
import os
import sys
import threading
import time

import eventlog


class StackSampler:
    """Every ``interval_s``, record the innermost ``xgboost_spark``
    module on the main thread's stack (``None`` outside the engine).
    Use as a context manager."""

    def __init__(self, interval_s: float = 0.005):
        self.interval_s = interval_s
        self.times: list[float] = []
        self.modules: list[str | None] = []
        self._tid = threading.main_thread().ident
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        marker = f"{os.sep}xgboost_spark{os.sep}"
        while not self._stop.wait(self.interval_s):
            f = sys._current_frames().get(self._tid)
            mod = None
            while f is not None:
                if marker in f.f_code.co_filename:
                    mod = eventlog.engine_module(
                        f"{f.f_code.co_filename}:{f.f_lineno}")
                    break
                f = f.f_back
            self.times.append(time.time())
            self.modules.append(mod)

    def module_at(self, t: float, window_s: float = 0.05) -> str | None:
        """The module of the first sample in ``[t, t + window_s]``, else
        of the last one before ``t``."""
        i = bisect.bisect_left(self.times, t)
        if i < len(self.times) and self.times[i] <= t + window_s:
            return self.modules[i]
        return self.modules[i - 1] if i > 0 else None

    def __enter__(self) -> "StackSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
