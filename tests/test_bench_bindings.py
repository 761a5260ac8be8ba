"""The benchmark's per-layer tracer (perfbench/spans.py) wraps engine
functions through the module attributes that call them, by name. A
binding it expects but the engine dropped would otherwise only surface as
a crashed traced benchmark run; a binding it wraps but never restores
would leak its wrapper into every later caller."""

from __future__ import annotations

import os
import sys

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "perfbench")


def _bindings():
    from tokenc import codecs, compress, engine, files, local, selector

    sys.path.insert(0, PERFBENCH)
    try:
        import spans
    finally:
        sys.path.remove(PERFBENCH)
    out = [(engine, "decode_chunk"), (files, "decode_chunk"),
           (local, "decode_chunk"), (local, "_encode_rowgroup"),
           (local, "pq"), (engine, "encode_chunk"), (selector, "choose"),
           (compress, "compress"), (compress, "decompress")]
    out += [(getattr(codecs, mod), fn) for mod, fn in spans.CODEC_FUNCS]
    return spans, out


def test_install_wraps_and_uninstall_restores():
    from tokenc import engine

    spans, bindings = _bindings()
    before = [getattr(owner, attr) for owner, attr in bindings]
    tracer = spans.Tracer()
    tracer.install()
    try:
        wrapped = [getattr(owner, attr) for owner, attr in bindings]
    finally:
        tracer.uninstall()
    for (owner, attr), orig, w in zip(bindings, before, wrapped):
        name = f"{owner.__name__}.{attr}"
        assert w is not orig, f"{name} was not wrapped"
        assert getattr(owner, attr) is orig, f"{name} was not restored"
    # the lookup replay rebuilds decoded chunks through the engine
    assert callable(engine._rebuild)
