"""The one pin lifecycle. A pin is a ``persist()``ed DataFrame (default
storage level), and each has one owner that releases it: a call-scoped
``pin_scope()``, a keyed ``PinRegistry`` for pins a later call may
reuse, or a caller-owned handle (``rowid.enumerate_rows(cache=True)``,
``LazyFrame.close``) released through ``release``."""

from __future__ import annotations

import contextlib
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame


def release(df: DataFrame | None) -> None:
    """Unpersist ``df`` (None: nothing to release). An unpersist error —
    a stopped session, a frame already dropped — is swallowed: a release
    runs during cleanup and must never replace the error that caused
    it."""
    if df is None:
        return
    try:
        df.unpersist()
    except Exception:
        pass


@contextlib.contextmanager
def pin_scope() -> Iterator[Callable[[DataFrame], DataFrame]]:
    """``with pin_scope() as pin: df = pin(df)`` — ``pin`` persists a
    frame and returns it; every frame pinned in the block is released
    when the block exits, on return or on any raise, so a failure
    surfaces its own exception and leaves nothing pinned."""
    with contextlib.ExitStack() as stack:
        def pin(df: DataFrame) -> DataFrame:
            df = df.persist()
            stack.callback(release, df)
            return df

        yield pin


class PinRegistry:
    """Keyed pins that outlive their call: re-pinning a key releases
    the frame it held, so a long-lived session holds at most one pin
    per key, and ``release_all()`` drops every key. Results derived
    from a released pin stay correct — they recompute."""

    def __init__(self) -> None:
        self._pins: dict[str, DataFrame] = {}

    def pin(self, key: str, df: DataFrame) -> DataFrame:
        release(self._pins.pop(key, None))
        self._pins[key] = df = df.persist()
        return df

    def release_all(self) -> None:
        while self._pins:
            release(self._pins.popitem()[1])
