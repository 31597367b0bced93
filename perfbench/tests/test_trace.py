from perfbench.trace import OFF, Tracer, self_times, summarize


def span(name, start, end, parent=-1):
    return (name, start, end, parent, "r")


def test_self_time_subtracts_direct_children_only():
    spans = [
        span("publish", 0, 100),
        span("decode", 10, 30, 0),
        span("match", 40, 50, 0),
        span("inner", 42, 48, 2),  # grandchild: already inside 'match'
    ]
    assert self_times(spans) == [100 - 20 - 10, 20, 10 - 6, 6]


def test_self_time_merges_overlapping_children_and_clips_to_parent():
    spans = [
        span("rpc", 100, 200),
        span("a", 110, 150, 0),
        span("b", 140, 170, 0),   # overlaps 'a': covered is 110..170
        span("c", 190, 260, 0),   # runs past the parent: clipped at 200
    ]
    assert self_times(spans)[0] == 100 - 60 - 10


def test_summarize_aggregates_by_name():
    spans = [span("p", 0, 10), span("d", 2, 4, 0), span("p", 20, 30), span("d", 21, 22, 2)]
    s = summarize(spans)
    assert s["p"]["calls"] == 2
    assert s["p"]["total_us"] == 20 / 1e3
    assert s["p"]["self_us"] == (8 + 9) / 1e3
    assert s["d"]["self_us"] == 3 / 1e3


def test_tracer_records_nesting_and_wrap(tmp_path):
    tr = Tracer("run-1")
    f = tr.wrap(lambda x: x + 1, "inc")
    with tr.span("outer"):
        assert f(1) == 2
    names = [s[0] for s in tr.spans]
    assert names == ["outer", "inc"]
    assert tr.spans[1][3] == 0 and tr.spans[0][3] == -1
    assert all(s[2] >= s[1] for s in tr.spans)
    path = tmp_path / "t.jsonl"
    tr.write(str(path))
    assert len(path.read_text().splitlines()) == 2


def test_off_tracer_is_a_no_op():
    fn = lambda: 3  # noqa: E731
    assert OFF.wrap(fn, "x") is fn
    with OFF.span("x"):
        pass
    assert not OFF.enabled and OFF.spans == []
