from perfbench.arrivals import OpenLoop, Sent, schedule


def _names(stem):
    return f"{stem}.md"


def test_schedule_is_fixed_rate_with_batch_groups():
    arr = schedule(2.0, rate=4.0, batch_every=0.75, batch_size=2, name_of=_names)
    singles = [a for a in arr if not a.is_batch]
    groups = [a for a in arr if a.is_batch]
    assert [a.due for a in singles] == [k / 4.0 for k in range(8)]
    assert [a.due for a in groups] == [0.75, 1.5]
    assert groups[0].job_id == "batch-001"
    assert groups[0].members == ("batch-001_m0.md", "batch-001_m1.md")
    assert [a.due for a in arr] == sorted(a.due for a in arr)


def test_schedule_names_every_document_once():
    seen = []

    def name_of(stem):
        seen.append(stem)
        return stem + ".pdf"

    arr = schedule(3.0, 2.0, 1.0, 3, name_of)
    files = [m for a in arr for m in (a.members or (a.job_id,))]
    assert len(files) == len(set(files)) == len(seen) == 6 + 2 * 3


class FakeClock:
    """Time advances only by sleeping or by a send that stalls."""

    def __init__(self):
        self.now = 100.0

    def __call__(self):
        return self.now

    def sleep(self, s):
        assert s > 0
        self.now += s


def test_open_loop_sends_on_time_when_the_system_keeps_up():
    clock = FakeClock()
    arr = schedule(1.0, 4.0, 10.0, 1, _names)
    loop = OpenLoop(arr, lambda rec: None, clock=clock, sleep=clock.sleep)
    sent = loop.run(clock())
    assert [s.late for s in sent] == [0.0] * 4


def test_stall_is_charged_to_later_jobs_from_their_due_time():
    clock = FakeClock()
    t0 = clock()

    def send(rec):
        if rec.arrival.due == 0.0:
            clock.now += 0.6  # the first send blocks for 0.6 s

    arr = schedule(1.0, 4.0, 10.0, 1, _names)
    sent = OpenLoop(arr, send, clock=clock, sleep=clock.sleep).run(t0)
    # job 0 sent on time; jobs due at 0.25 and 0.5 go out late at 0.6
    assert [round(s.late, 9) for s in sent] == [0.0, 0.35, 0.1, 0.0]
    # a reply observed at 1.0 s means latency counted from the due time,
    # not from the late send
    sent[1].done_at = 1.0
    assert sent[1].latency == 0.75
    assert sent[2].latency is None


def test_sent_latency_uses_first_terminal_time():
    rec = Sent(schedule(1.0, 1.0, 10.0, 1, _names)[0], sent_at=0.2)
    assert rec.late == 0.2
    rec.done_at = 1.5
    assert rec.latency == 1.5
