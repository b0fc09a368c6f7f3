"""Resumable step pipeline — the engine's ``process_steps`` analog.

The reference's "logical plan" is an ordered ``Step`` list
(``/root/reference/src/azanium/runcommand.py:288-334``) executed by
``process_steps`` (``runcommand.py:389-409``) with a durable integer cursor
in a shelve file (``util.py:44-45``): on success the cursor advances; on
exception it doesn't, so a rerun resumes at the failed step.
``reset-to-step`` (``runcommand.py:346-387``) rewinds, and notifications
fire around every step (``notifications.py:75-82``).

Engine mapping: steps are Python callables producing Spark jobs; the cursor
is a JSON manifest (idempotent stage-output paths do the heavy lifting —
a re-run of a completed stage is a no-op existence check, the reference's
own re-entrancy trick, changelog 0.25).  Listeners replace Slack webhooks.
A stage output the driver writes itself lands through :func:`publish_dir`
(temp sibling, then one rename), so a crash never leaves half of it.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections.abc import Callable
from dataclasses import dataclass


@dataclass
class Step:
    """One pipeline stage (runcommand.py:288 ``Step`` namedtuple analog)."""

    description: str
    func: Callable[[], object]


class Pipeline:
    """Ordered steps + durable resume cursor + around-step listeners."""

    STATE_KEY = "last_step_ok"  # runcommand.py:30 LAST_STEP_OK_STATE_KEY

    def __init__(self, steps: list[Step], manifest_path: str):
        self.steps = steps
        self.manifest_path = manifest_path
        self.listeners: list[Callable[[str, int, Step], None]] = []

    # -- durable state (shelve analog, util.py:44-45) --
    def _load(self) -> dict:
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path) as fp:
                return json.load(fp)
        return {self.STATE_KEY: 0, "history": []}

    def _save(self, state: dict) -> None:
        os.makedirs(os.path.dirname(self.manifest_path) or ".", exist_ok=True)
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w") as fp:
            json.dump(state, fp, indent=2)
        os.replace(tmp, self.manifest_path)

    def add_listener(self, fn: Callable[[str, int, Step], None]) -> None:
        """notifications.around analog (notifications.py:75-82): fn fires
        with phase 'start'/'ok'/'error' around every step."""
        self.listeners.append(fn)

    def _emit(self, phase: str, n: int, step: Step) -> None:
        for fn in self.listeners:
            fn(phase, n, step)

    # -- execution (process_steps analog, runcommand.py:389-409) --
    def run(self) -> list[str]:
        """Run remaining steps from the cursor and return the descriptions
        of the steps run.  On step failure the cursor stays (resume
        semantics)."""
        state = self._load()
        start = state[self.STATE_KEY]
        ran = []
        for n, step in enumerate(self.steps[start:], start=start + 1):
            self._emit("start", n, step)
            try:
                step.func()
            except Exception:
                self._emit("error", n, step)
                raise
            ran.append(step.description)
            state[self.STATE_KEY] = n
            state["history"].append(
                {
                    "step_n": n,
                    "description": step.description,
                    "status": "ok",
                    "completed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                }
            )
            self._save(state)
            self._emit("ok", n, step)
        return ran

    def reset_to_step(self, step_n: int) -> None:
        """runcommand.py:346-387: rewind the cursor (callers also delete
        downstream stage outputs, which is what makes re-runs correct)."""
        state = self._load()
        state[self.STATE_KEY] = max(0, step_n - 1)
        state["history"] = [
            h for h in state["history"] if h["step_n"] < step_n
        ]
        self._save(state)

    def clean(self) -> None:
        """clean-previous-state analog (runcommand.py:258-280)."""
        if os.path.exists(self.manifest_path):
            os.remove(self.manifest_path)


def publish_dir(dst: str, write: Callable[[str], object]) -> None:
    """Publish a driver-written stage output at ``dst``: ``write(tmp)``
    fills the directory ``tmp`` (a fresh temp sibling of ``dst``, which
    it creates), then the old ``dst`` is removed and ``tmp`` renamed into
    its place.  ``dst`` never holds half an output; a crash between the
    removal and the rename leaves no ``dst`` at all, and a rerun of the
    step (its pipeline cursor has not advanced) republishes it."""
    tmp = dst + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    write(tmp)
    shutil.rmtree(dst, ignore_errors=True)
    os.replace(tmp, dst)
