import threading

import layers


def test_nested_calls_of_one_layer_make_one_span():
    tracer = layers.Tracer()

    def inner(x):
        return x + 1

    w_inner = tracer.wrap("operators.graph", inner)

    def outer(x):
        return w_inner(x) * 2

    w_outer = tracer.wrap("operators.graph", outer)
    assert w_outer(1) == 4
    assert len(tracer.spans) == 1
    assert w_inner(1) == 2
    assert len(tracer.spans) == 2


def test_other_layers_and_threads_open_their_own_spans():
    tracer = layers.Tracer()
    src = tracer.wrap("sources.load_table", lambda: None)
    op = tracer.wrap("operators.dedup", lambda: src())
    op()
    t = threading.Thread(target=op)
    t.start()
    t.join()
    names = sorted(name for name, _, _ in tracer.spans)
    assert names == ["operators.dedup"] * 2 + ["sources.load_table"] * 2
    s, e = tracer.spans[0][1:]
    assert tracer.spans_of(tracer.spans[0][0], s, e)


def test_span_recorded_when_the_call_raises():
    tracer = layers.Tracer()

    def boom():
        raise ValueError("x")

    w = tracer.wrap("sinks.publish", boom)
    try:
        w()
    except ValueError:
        pass
    assert [name for name, _, _ in tracer.spans] == ["sinks.publish"]
    # The depth guard was released: the next call opens a new span.
    try:
        w()
    except ValueError:
        pass
    assert len(tracer.spans) == 2
