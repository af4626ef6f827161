"""Deterministic interleavings of store operations.

``Interleaving`` holds one operation just before it takes the store's
lock, or just before one of the ``os.replace``/``os.link`` calls that
put files into a log partition, and runs others against the same store
until
each finishes or has to wait for the store's lock. The tests then
release the held operation and check what every reader saw.
"""

from __future__ import annotations

import os
import threading

from datahub_spark import store as S

WAIT_S = 120


class Task:
    """One operation running in its own thread."""

    def __init__(self, fn):
        self.result = self.error = None
        self.done = threading.Event()
        self.thread = threading.Thread(target=self._run, args=(fn,), daemon=True)

    def _run(self, fn):
        try:
            self.result = fn()
        except BaseException as exc:  # noqa: BLE001 — join() re-raises it
            self.error = exc
        finally:
            self.done.set()

    def join(self):
        assert self.done.wait(WAIT_S), "the operation did not finish"
        if self.error is not None:
            raise self.error
        return self.result


class Interleaving:
    """Patches ``os.replace``/``os.link`` and the process lock of the store
    at ``root`` for the life of ``monkeypatch``. The lock it installs
    records when a thread has to wait for it."""

    def __init__(self, monkeypatch, root: str):
        self._lock = threading.Lock()
        self.waited = threading.Event()
        self._held: threading.Thread | None = None
        self._nth = self._calls = 0
        self._reached, self._go = threading.Event(), threading.Event()
        monkeypatch.setitem(S._ROOT_LOCKS, os.path.abspath(root), self)
        for name in ("replace", "link"):
            monkeypatch.setattr(os, name, self._gated(getattr(os, name)))

    def __enter__(self):
        if threading.current_thread() is self._held and self._nth == 0:
            self._stop()
        if not self._lock.acquire(blocking=False):
            self.waited.set()
            self._lock.acquire()
        return self

    def __exit__(self, *exc):
        self._lock.release()

    def _gated(self, call):
        def gated(src, dst, *a, **kw):
            if threading.current_thread() is self._held and "dataset=" in str(dst):
                self._calls += 1
                if self._calls == self._nth:
                    self._stop()
            return call(src, dst, *a, **kw)
        return gated

    def _stop(self):
        self._reached.set()
        assert self._go.wait(WAIT_S), "the held operation was never released"

    def hold(self, fn, nth: int = 1) -> Task:
        """Start ``fn`` and return once it waits before its ``nth``
        replace/link into a log partition (``nth=0``: before it takes
        the store's lock), or has finished without it."""
        task = Task(fn)
        self._held, self._nth, self._calls = task.thread, nth, 0
        self._reached.clear()
        self._go.clear()
        task.thread.start()
        while not (self._reached.wait(0.05) or task.done.is_set()):
            pass
        return task

    def release(self) -> None:
        self._go.set()

    def run(self, fn) -> Task:
        """Start ``fn`` and return once it has finished or waits for the
        store's lock."""
        self.waited.clear()
        task = Task(fn)
        task.thread.start()
        while not (task.done.wait(0.05) or self.waited.is_set()):
            pass
        return task
