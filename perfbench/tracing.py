"""Span recorder.

Spans are recorded only from the benchmark's own files, around calls into
the program's public functions.  They stay in memory and are written once,
as JSON lines, when the process ends.
"""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    """In-memory spans: name, start, end, parent.  Disabled = no records."""

    def __init__(self, enabled: bool, trace_id: str, process: str,
                 root_parent: str | None = None):
        """``root_parent`` is the id of the span, in the process that
        started this one, under which this process's top spans hang."""
        self.enabled = enabled
        self.trace_id = trace_id
        self.process = process
        self.root_parent = root_parent
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = (self.spans[self._stack[-1]]["id"] if self._stack
                  else self.root_parent)
        rec = {"trace": self.trace_id, "process": self.process,
               "id": f"{self.process}:{len(self.spans)}", "name": name,
               "parent": parent, "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def write(self, path: str) -> None:
        if self.enabled:
            with open(path, "a") as f:
                for s in self.spans:
                    f.write(json.dumps(s) + "\n")
