"""Open-loop arrival schedule for the conversion stream.

Jobs are due at fixed offsets from the start of the window: single-document
jobs every `1 / rate` seconds and a `batch-XXX_` group every `batch_every`
seconds. The generator sends each job when it is due, however far behind the
system is; latency is timed from the due time, so a generator stall is
charged to the jobs it delayed, and the generator's own lateness is reported.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field


@dataclass(frozen=True)
class Arrival:
    due: float  # seconds after the window starts
    job_id: str  # landing file name, or the batch id for a group
    members: tuple[str, ...] = ()  # landing file names of a batch group

    @property
    def is_batch(self) -> bool:
        return bool(self.members)


def schedule(
    seconds: float, rate: float, batch_every: float, batch_size: int, name_of
) -> list[Arrival]:
    """Due-ordered arrivals for a window of `seconds`.

    `name_of(stem)` turns a document's stem into its landing file name, so
    the seeded corpus decides each document's format while the schedule
    stays fixed.
    """
    out: list[Arrival] = []
    k = 0
    while k / rate < seconds:
        out.append(Arrival(k / rate, name_of(f"job-{k:05d}")))
        k += 1
    b = 1
    while b * batch_every < seconds:
        bid = f"batch-{b:03d}"
        members = tuple(name_of(f"{bid}_m{m}") for m in range(batch_size))
        out.append(Arrival(b * batch_every, bid, members))
        b += 1
    out.sort(key=lambda a: (a.due, a.job_id))
    return out


@dataclass
class Sent:
    arrival: Arrival
    sent_at: float  # seconds after the window starts
    done_at: float | None = None  # first terminal poll, same clock
    status: dict | None = None
    next_poll: float = 0.0  # earliest time of the next status read

    @property
    def late(self) -> float:
        return self.sent_at - self.arrival.due

    @property
    def latency(self) -> float | None:
        """Due time to first terminal status."""
        return None if self.done_at is None else self.done_at - self.arrival.due


@dataclass
class OpenLoop:
    """Sends arrivals on schedule via `send(sent)`, which must not block on
    the system under test. `clock` and `sleep` are injectable for tests."""

    arrivals: list[Arrival]
    send: object
    clock: object = time.perf_counter
    sleep: object = time.sleep
    sent: list[Sent] = field(default_factory=list)

    def run(self, t0: float) -> list[Sent]:
        for a in self.arrivals:
            wait = t0 + a.due - self.clock()
            if wait > 0:
                self.sleep(wait)
            rec = Sent(a, self.clock() - t0)
            self.sent.append(rec)
            self.send(rec)
        return self.sent
