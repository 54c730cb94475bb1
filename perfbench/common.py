"""Types shared by the workloads."""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable


class GateError(Exception):
    """A correctness gate rejected the program's output."""


@dataclass
class Op:
    """One timed operation. ``fn`` does the whole operation (for a read,
    it builds the DataFrame and the runner collects it, so the build and
    the action are timed apart). In traced cycles the runner calls
    ``before()`` just ahead of the timer and ``info(before_result)``
    after it, both untimed, for counts about the op."""

    kind: str  # "read" | "write"
    label: str
    fn: Callable[[], object]
    info: Callable[[object], dict] | None = None
    before: Callable[[], object] | None = None


@dataclass
class Context:
    spark: object
    seed: int
    state_dir: str


def tree_bytes(path: str, suffix: str = "") -> int:
    """Bytes of the files under ``path`` whose names end with ``suffix``."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            if name.endswith(suffix):
                total += os.path.getsize(os.path.join(root, name))
    return total
