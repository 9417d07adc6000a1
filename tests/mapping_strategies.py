"""Hypothesis strategies for random mappings and rows, shared by the
mapping fuzzers (``test_mapping_fuzz``: reference parity;
``test_streaming_fuzz``: batch ≡ stream).  Imports nothing but hypothesis,
so a suite that needs no reference interpreter can collect without one.

Generation stays inside the semantics the reference-parity fuzzer claims —
the two documented intentional divergences are excluded by construction:
* formula substring-substitution (SURVEY T7): field names a/b/c/d are
  never prefixes of each other, where tokenizing == substring replacement;
  expressions avoid ``/``/``%`` (reference ZeroDivisionError vs IEEE inf).
* spec dialect handling (S3): not exercised — rows are fed directly.
"""

from __future__ import annotations

from hypothesis import strategies as st

COLS = ["alpha", "beta", "gamma", "delta"]

cell = st.one_of(
    st.just(""),
    st.just("None"),
    st.sampled_from(["x", "y", "zz", "EUR", "USD", "hot dog", "Ж"]),
    st.integers(-1000, 1000).map(str),
    st.floats(-100, 100, allow_nan=False).map(lambda f: f"{f:.3f}"),
    st.sampled_from(["2024-01-15T10:30:00", "2024-13-99T99:99:99", "1999-12-31"]),
)

row = st.tuples(*[cell for _ in COLS])

field_name = st.sampled_from(COLS + ["missing_col"])
small_str = st.sampled_from(["", "x", "y", "EUR", "k1", "v2", "None", "0"])

_condition = st.one_of(
    st.tuples(st.sampled_from(COLS), st.sampled_from(["==", "!="]), small_str).map(
        lambda t: f"{t[0]} {t[1]} '{t[2]}'"
    ),
    st.tuples(st.sampled_from(COLS), st.lists(small_str, min_size=1, max_size=3)).map(
        lambda t: f"{t[0]} in [" + ", ".join(f"'{v}'" for v in t[1]) + "]"
    ),
)

fm_direct = st.builds(
    lambda src: {"destination_field": "d_direct", "source_field": src,
                 "transform_type": "direct", "transform_config": {}},
    field_name,
)
fm_constant = st.builds(
    lambda v: {"destination_field": "d_const", "source_field": None,
               "transform_type": "constant", "transform_config": {"value": v}},
    st.one_of(small_str, st.integers(-5, 5)),
)
fm_date = st.builds(
    lambda src, outf: {"destination_field": "d_date", "source_field": src,
                       "transform_type": "date_format",
                       "transform_config": {"input_format": "%Y-%m-%dT%H:%M:%S",
                                            "output_format": outf}},
    st.sampled_from(COLS),
    st.sampled_from(["%Y-%m-%d", "%d/%m/%Y"]),
)
fm_lookup = st.builds(
    lambda src, keys, default_present, default: {
        "destination_field": "d_lookup", "source_field": src,
        "transform_type": "lookup",
        "transform_config": {**{k: f"V{k}" for k in keys},
                             **({"_default": default} if default_present else {})},
    },
    st.sampled_from(COLS),
    st.lists(small_str.filter(lambda s: s != "_default"), min_size=1, max_size=4,
             unique=True),
    st.booleans(),
    st.one_of(st.none(), small_str),
)
fm_affix = st.builds(
    lambda kind, src, val, cond: {
        "destination_field": f"d_{kind}", "source_field": src,
        "transform_type": kind,
        "transform_config": {"value": val, **({"condition": cond} if cond else {})},
    },
    st.sampled_from(["prefix", "suffix"]),
    st.sampled_from(COLS),
    small_str,
    st.one_of(st.none(), _condition),
)
fm_formula = st.builds(
    lambda a, b, k: {"destination_field": "d_formula", "source_field": None,
                     "transform_type": "formula",
                     "transform_config": {"expression": f"{a} * {k} + {b}"}},
    st.sampled_from(COLS), st.sampled_from(COLS), st.integers(-3, 3),
)
fm_conditional = st.builds(
    lambda conds, thens, has_else, else_v: {
        "destination_field": "d_cond", "source_field": None,
        "transform_type": "conditional",
        "transform_config": {"conditions": (
            [{"if": c, "then": t} for c, t in zip(conds, thens)]
            + ([{"else": else_v}] if has_else else [])
        )},
    },
    st.lists(_condition, min_size=1, max_size=3),
    st.lists(small_str, min_size=3, max_size=3),
    st.booleans(),
    small_str,
)

field_mapping = st.one_of(
    fm_direct, fm_constant, fm_date, fm_lookup, fm_affix, fm_formula, fm_conditional
)

filter_rule = st.one_of(
    st.builds(lambda f, op, v: {"field": f, "operator": op, "value": v},
              field_name, st.sampled_from(["equals", "not_equals", "contains"]),
              small_str),
    st.builds(lambda f, op, vs: {"field": f, "operator": op, "values": vs},
              field_name, st.sampled_from(["in", "not_in"]),
              st.lists(small_str, min_size=0, max_size=3)),
    st.builds(lambda f, op: {"field": f, "operator": op},
              field_name, st.sampled_from(["is_empty", "is_not_empty"])),
)

mapping_st = st.builds(
    lambda fms, rules: {
        "id": "fuzz", "name": "fuzz",
        # unique destination fields (dict keyed by destination in both engines)
        "field_mappings": list({fm["destination_field"]: fm for fm in fms}.values()),
        "filter_rules": rules,
    },
    st.lists(field_mapping, min_size=1, max_size=5),
    st.lists(filter_rule, min_size=0, max_size=2),
)
