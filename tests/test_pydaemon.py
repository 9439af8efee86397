"""The engine's Python worker daemon (``_pydaemon``): its guard against
forking with a thread the preload started. In-process, no Spark."""

from __future__ import annotations

import threading

import pytest

from etl_upc_syllabus_spark import _pydaemon


def test_thread_guard_raises_while_a_new_thread_is_alive():
    before = _pydaemon.os_threads()
    stop = threading.Event()
    thread = threading.Thread(target=stop.wait)
    thread.start()
    try:
        with pytest.raises(RuntimeError, match="forking a multi-threaded process"):
            _pydaemon.require_no_new_threads(before)
    finally:
        stop.set()
        thread.join(timeout=10)
    assert not thread.is_alive()
