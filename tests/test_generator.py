"""wpgen round-trip property: generated lines must parse back with the same
rule (reference: tests/wpgen_rule_exec.rs generator/parser duality)."""

import pytest
from pyspark.sql import functions as F

from wp_motor_spark.wpl import compile_rule, parse_wpl
from wp_motor_spark.wpl.generator import generate_lines

REF = "/root/reference"

CLF_RULE = """
rule clf {
  (ip:sip,2*_,time/clf:t<[,]>,http/request",http/status:st,digit:bytes)
}
"""

KV_RULE = r"""
rule kvs {
  (time_3339:ts,sn:dev,3*kv\,)
}
"""


def nginx_wpl() -> str:
    """The reference's nginx rule, read at test time so this module
    collects without the reference tree."""
    with open(f"{REF}/tests/instance/wpl/example/simple/parse.wpl") as fh:
        return fh.read()


@pytest.mark.parametrize(
    "wpl,n",
    [pytest.param(None, 200, id="nginx-200"), (CLF_RULE, 200), (KV_RULE, 100)],
)
def test_roundtrip(spark, wpl, n):
    rule = parse_wpl(wpl or nginx_wpl())[0]
    lines = generate_lines(spark, rule, n)
    cr = compile_rule(rule)
    parsed = cr.extract(lines)
    ok = parsed.where(F.col("_disposition") == "success").count()
    assert ok == n, parsed.where(F.col("_disposition") != "success").first()


def test_deterministic(spark):
    a = generate_lines(spark, CLF_RULE, 10).collect()
    b = generate_lines(spark, CLF_RULE, 10).collect()
    assert a == b
    c = generate_lines(spark, CLF_RULE, 10, seed=7).collect()
    assert a != c


def test_overrides(spark):
    rule = parse_wpl(CLF_RULE)[0]
    lines = generate_lines(
        spark, rule, 50, overrides={"sip": {"choices": ["1.1.1.1"]}, "bytes": {"range": (10, 20)}}
    )
    cr = compile_rule(rule)
    rows = cr.extract(lines).collect()
    assert all(r["sip"] == "1.1.1.1" for r in rows)
    assert all(10 <= r["bytes"] < 20 for r in rows)


def test_rule_generator_24_field_round_trip(spark):
    """Reference tests/actor_workflows.rs::rule_generator_end_to_end
    _processing: the 24-field comma-separated generation rule — every
    generated line must re-parse through its own rule with disposition
    success (generate -> parse round trip, engine_check parity)."""
    from wp_motor_spark.wpl import compile_rule, parse_wpl
    from wp_motor_spark.wpl.generator import generate_lines

    rule_text = (
        r"package /test_pkg { rule test { (digit,time,sn,chars,time,kv,sn,"
        r"chars,time,time,ip,kv,chars,kv,kv,chars,kv,kv,chars,chars,ip,"
        r"chars,http/request,http/agent)\,} }"
    )
    rules = parse_wpl(rule_text)
    lines = generate_lines(spark, rules[0], 50, seed=3)
    out = compile_rule(rules[0]).extract(
        lines.withColumnRenamed(lines.columns[0], "value")
    )
    by_disp = {r["_disposition"]: r["count"] for r in
               out.groupBy("_disposition").count().collect()}
    assert by_disp == {"success": 50}


def test_gen_field_toml_scopes(spark):
    """gen_field.toml (FieldsGenRule, generator/rule.rs): the instance's
    own sip ip-scope constrains generated addresses to [beg, end], and the
    constrained lines still parse under the package's parse.wpl."""
    import ipaddress

    from wp_motor_spark.wpl import compile_rule, parse_wpl
    from wp_motor_spark.wpl.generator import (
        generate_lines,
        load_gen_field_overrides,
    )

    inst = "/root/reference/tests/instance/wpl/example/simple"
    rule = parse_wpl(open(f"{inst}/gen_rule.wpl").read())[0]
    ov = load_gen_field_overrides(open(f"{inst}/gen_field.toml").read())
    assert ov == {"sip": {"ip_range": ("10.0.10.0", "10.0.100.255")}}
    lines = generate_lines(spark, rule, 100, overrides=ov, seed=5)
    rows = [r[0] for r in lines.collect()]
    lo = ipaddress.ip_address("10.0.10.0")
    hi = ipaddress.ip_address("10.0.100.255")
    assert all(lo <= ipaddress.ip_address(r.split()[0]) <= hi for r in rows)
    cr = compile_rule(parse_wpl(open(f"{inst}/parse.wpl").read())[0])
    out = cr.extract(lines.withColumnRenamed(lines.columns[0], "value"))
    assert out.where("_disposition = 'success'").count() == 100


def test_gen_field_fmt_and_scope_variants(spark):
    """digit scope + gen_fmt template, float scope, chars choices — the
    remaining FieldGenConf variants."""
    from wp_motor_spark.wpl import parse_wpl
    from wp_motor_spark.wpl.generator import (
        generate_lines,
        load_gen_field_overrides,
    )

    ov = load_gen_field_overrides(
        """
[items.code]
gen_type = "digit"
gen_fmt = "SN-{val}"
[items.code.scope.digit]
beg = 100
end = 200

[items.ratio]
gen_type = "float"
[items.ratio.scope.float]
beg = 1.0
end = 2.0

[items.word]
gen_type = "chars"
scope = { chars = ["alpha", "beta"] }
"""
    )
    rule = parse_wpl("rule g { (sn:code,float:ratio,chars:word) }")[0]
    rows = [
        r[0].split() for r in generate_lines(spark, rule, 50, overrides=ov).collect()
    ]
    assert all(c.startswith("SN-") and 100 <= int(c[3:]) < 200 for c, _, _ in rows)
    assert all(1.0 <= float(f) < 2.0 for _, f, _ in rows)
    assert {w for _, _, w in rows} <= {"alpha", "beta"}


def test_speed_profile_models_match_reference_formulas():
    """controller.rs calc_* golden values: sinusoidal peaks/troughs,
    stepped boundaries + looping + clamp-to-last, ramp midpoint/clamp,
    random_walk range, composite combine modes, burst windows."""
    from wp_motor_spark.wpl.speed_profile import SpeedController

    sin = SpeedController(
        {"type": "sinusoidal", "base": 5000, "amplitude": 2000, "period_secs": 60.0}
    )
    assert sin.speed_at(0) == 5000
    assert sin.speed_at(15) == 7000   # quarter period: +amplitude
    assert sin.speed_at(45) == 3000   # three quarters: -amplitude
    tiny = SpeedController(
        {"type": "sinusoidal", "base": 10, "amplitude": 100, "period_secs": 4.0}
    )
    assert tiny.speed_at(3) == 1      # floor at 1, never 0/negative

    st = SpeedController(
        {"type": "stepped", "steps": [[30.0, 1000], [30.0, 5000], [30.0, 2000]],
         "loop_forever": False}
    )
    assert st.speed_at(0) == 1000
    assert st.speed_at(30) == 5000    # boundary belongs to the NEXT step
    assert st.speed_at(59.9) == 5000
    assert st.speed_at(60) == 2000
    assert st.speed_at(1000) == 2000  # not looping: hold the last rate
    lp = SpeedController(
        {"type": "stepped", "steps": [[30.0, 1000], [30.0, 5000], [30.0, 2000]],
         "loop_forever": True}
    )
    assert lp.speed_at(95) == 1000    # 95 % 90 = 5 -> first step

    rmp = SpeedController(
        {"type": "ramp", "start": 100, "end": 10000, "duration_secs": 300.0}
    )
    assert rmp.speed_at(0) == 100
    assert rmp.speed_at(150) == 5050
    assert rmp.speed_at(300) == 10000
    assert rmp.speed_at(9999) == 10000  # hold after the ramp

    rw = SpeedController({"type": "random_walk", "base": 5000, "variance": 0.3}, seed=7)
    rates = [rw.speed_at(t) for t in range(200)]
    assert all(3500 <= r <= 6500 for r in rates)
    assert len(set(rates)) > 50  # actually random, not constant

    comp = {
        "type": "composite",
        "profiles": [
            {"type": "constant", "rate": 1000},
            {"type": "constant", "rate": 3000},
        ],
    }
    assert SpeedController({**comp, "combine_mode": "average"}).speed_at(0) == 2000
    assert SpeedController({**comp, "combine_mode": "max"}).speed_at(0) == 3000
    assert SpeedController({**comp, "combine_mode": "min"}).speed_at(0) == 1000
    assert SpeedController({**comp, "combine_mode": "sum"}).speed_at(0) == 4000

    b = SpeedController(
        {"type": "burst", "base": 1000, "burst_rate": 10000,
         "burst_duration_ms": 2000, "burst_probability": 1.0},
        seed=3,
    )
    seen = [b.speed_at(float(t)) for t in range(30)]
    assert 1000 in seen and 10000 in seen  # bursts fire and decay
    # during a burst window the rate holds at burst_rate
    first_burst = seen.index(10000)
    if first_burst + 1 < len(seen):
        assert seen[first_burst + 1] in (10000, 1000)


def test_speed_profile_planned_rows_and_conf_mapping():
    from wp_motor_spark.wpl.speed_profile import (
        SpeedController,
        profile_from_generator_conf,
    )

    c = SpeedController({"type": "constant", "rate": 500})
    assert c.planned_rows(10) == 5000
    assert c.planned_rows(2.5) == 1250  # fractional tail tick pro-rates

    # speed_profile wins over scalar speed; speed=0 -> unlimited (None)
    assert profile_from_generator_conf(
        {"speed": 9, "speed_profile": {"type": "constant", "rate": 7}}
    ) == {"type": "constant", "rate": 7}
    assert profile_from_generator_conf({"speed": 250}) == {
        "type": "constant", "rate": 250,
    }
    assert profile_from_generator_conf({"speed": 0}) is None
    assert profile_from_generator_conf({}) is None


def test_wpgen_config_sample_mode_and_duration(spark, tmp_path):
    """04-wpgen.md config mode: mode="sample" + sample_pattern replicates
    the sample pool under rule_root; duration_secs x speed integrates to
    the generated row count."""
    from wp_motor_spark.cli import main as cli_main

    root = tmp_path / "ws"
    (root / "conf").mkdir(parents=True)
    (root / "samples").mkdir()
    (root / "samples" / "a.txt").write_text("alpha 1\nbravo 2\n")
    (root / "samples" / "sub").mkdir()
    (root / "samples" / "sub" / "b.txt").write_text("charlie 3\n")
    (root / "conf" / "wpgen.toml").write_text(
        'version = "1.0"\n'
        "[generator]\n"
        'mode = "sample"\n'
        "duration_secs = 4\n"
        "speed = 25\n"
        'rule_root = "./samples"\n'
        'sample_pattern = "*.txt"\n'
        "[output]\n"
        'connect = "file_raw_sink"\n'
        'params = { base = "out", file = "gen.dat" }\n'
    )
    (root / "connectors" / "sink.d").mkdir(parents=True)
    (root / "connectors" / "sink.d" / "raw.toml").write_text(
        '[[connectors]]\nid = "file_raw_sink"\ntype = "file"\n'
        'params = { base = "out", file = "raw.dat", fmt = "raw" }\n'
        'allow_override = ["base", "file"]\n'
    )
    rc = cli_main(["wpgen", "--config", str(root / "conf" / "wpgen.toml")])
    assert rc == 0
    out = [
        r["value"]
        for r in spark.read.text(str(root / "out" / "gen.dat")).collect()
    ]
    assert len(out) == 100  # 4s x 25 rows/s
    assert set(out) == {"alpha 1", "bravo 2", "charlie 3"}
