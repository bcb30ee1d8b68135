"""JsonPath engine tests — parser, Python evaluator, and native compiler
agree with the reference semantics (TopologyProducer.kt:216-223: match ⇔
non-empty node list; any error/missed path ⇒ non-match)."""

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_processor_cosmos_tx_dispatch_spark.functions import jsonpath as jp

MSG_SEND = "type.googleapis.com/cosmos.bank.v1beta1.MsgSend"
OKP4_ADDR = "okp41rhd8744u4vqvcjuvyfm8fea4k9mefe3k57qz27"

# The three predicates from the reference's rules_example.yaml:2-11.
P_TYPE = f"$.body.messages[?(@.@type == '{MSG_SEND}')]"
P_FROM = f"$..messages[?(@.fromAddress == '{OKP4_ADDR}')]"
P_NOP = "$.nop"

TX1 = {
    "body": {
        "messages": [
            {
                "@type": MSG_SEND,
                "fromAddress": "testFrom",
                "toAddress": "tesTo",
                "amount": [{"denom": "know", "amount": "100"}],
            }
        ],
        "memo": "",
    },
    "authInfo": {"fee": {"gasLimit": 200000}},
}
TX2 = {
    "body": {
        "messages": [
            {
                "@type": MSG_SEND,
                "fromAddress": OKP4_ADDR,
                "toAddress": "t",
                "amount": [],
            }
        ]
    },
    "authInfo": {},
}
TX3 = {"body": {}, "authInfo": {}}


class TestPythonEvaluator:
    @pytest.mark.parametrize(
        "tx,expected",
        [(TX1, [True, False, False]), (TX2, [True, True, False]), (TX3, [False] * 3)],
    )
    def test_reference_fixtures(self, tx, expected):
        got = [jp.match(json.dumps(tx), p) for p in (P_TYPE, P_FROM, P_NOP)]
        assert got == expected

    def test_errors_are_non_matches(self):
        assert jp.match("not json", P_TYPE) is False
        assert jp.match(None, P_TYPE) is False
        assert jp.match("{}", "$.a.b.c") is False

    def test_operators(self):
        doc = json.dumps({"a": [{"v": 5, "s": "x"}]})
        assert jp.match(doc, "$.a[?(@.v > 3 && @.v <= 5)]")
        assert jp.match(doc, "$.a[?(@.v == 9 || @.s == 'x')]")
        assert not jp.match(doc, "$.a[?(@.v != 5)]")
        assert jp.match(doc, "$.a[?(@.s)]")
        assert not jp.match(doc, "$.a[?(@.missing)]")

    def test_index_wildcard_recursive(self):
        doc = json.dumps({"a": [{"b": 1}, {"c": {"b": 2}}]})
        assert jp.match(doc, "$.a[0].b")
        assert not jp.match(doc, "$.a[5]")
        assert jp.match(doc, "$.a[*].c")
        assert jp.match(doc, "$..b")
        assert not jp.match(doc, "$..zzz")

    def test_bad_syntax_raises_at_parse_but_match_swallows(self):
        with pytest.raises(jp.JsonPathError):
            jp.parse("$.a[")
        assert jp.match("{}", "$.a[") is False

    def test_malformed_literals_raise_jsonpath_error(self):
        # ADVICE r1: these used to raise bare ValueError from float()/int(),
        # escaping the `except JsonPathError` never-match guard and crashing
        # plan construction; reference parity is bad rule => non-match
        # (TopologyProducer.kt:221-223).
        for bad in ("$[-]", "$.a[?(@.v == 1.2.3)]", "$.a[?(@.v == --1)]"):
            with pytest.raises(jp.JsonPathError):
                jp.parse(bad)
            assert jp.match("{}", bad) is False


TX_TYPE = T.StructType(
    [
        T.StructField(
            "body",
            T.StructType(
                [
                    T.StructField(
                        "messages",
                        T.ArrayType(
                            T.StructType(
                                [
                                    T.StructField("@type", T.StringType()),
                                    T.StructField("fromAddress", T.StringType()),
                                    T.StructField("toAddress", T.StringType()),
                                    T.StructField(
                                        "amount",
                                        T.ArrayType(
                                            T.StructType(
                                                [
                                                    T.StructField("denom", T.StringType()),
                                                    T.StructField("amount", T.StringType()),
                                                ]
                                            )
                                        ),
                                    ),
                                ]
                            )
                        ),
                    ),
                    T.StructField("memo", T.StringType()),
                ]
            ),
        ),
        T.StructField(
            "authInfo",
            T.StructType(
                [
                    T.StructField(
                        "fee",
                        T.StructType([T.StructField("gasLimit", T.LongType())]),
                    )
                ]
            ),
        ),
    ]
)


class TestNativeCompiler:
    """Tier-1 compiled Columns agree with the Python evaluator."""

    @pytest.fixture(scope="class")
    def tx_df(self, spark):
        rows = [(1, TX1), (2, TX2), (3, TX3)]
        df = spark.createDataFrame(
            [(i, json.dumps(t)) for i, t in rows], "tx_id long, tx_json string"
        )
        return df.withColumn("tx", F.from_json("tx_json", TX_TYPE)).cache()

    @pytest.mark.parametrize("path", [P_TYPE, P_FROM, P_NOP, "$.body.memo", "$..gasLimit"])
    def test_agrees_with_python_evaluator(self, tx_df, path):
        compiled = jp.compile_struct_predicate(F.col("tx"), TX_TYPE, path)
        assert compiled is not None, f"{path} should be native-compilable"
        got = {
            r["tx_id"]: r["m"]
            for r in tx_df.select("tx_id", compiled.alias("m")).collect()
        }
        for tx_id, tx in [(1, TX1), (2, TX2), (3, TX3)]:
            assert got[tx_id] == jp.match(json.dumps(tx), path), (path, tx_id)

    def test_numeric_and_bool_filters(self, tx_df):
        path = "$.authInfo.fee[?(@.gasLimit >= 100000)]"
        compiled = jp.compile_struct_predicate(F.col("tx"), TX_TYPE, path)
        got = {
            r["tx_id"]: r["m"]
            for r in tx_df.select("tx_id", compiled.alias("m")).collect()
        }
        assert got == {1: True, 2: False, 3: False}

    def test_number_and_boolean_compare_by_kind(self, spark):
        """A boolean compares only with a boolean and a number only with a
        number, in both tiers: over a struct with int, bool and array
        fields every native Column equals the interpreter, and a bank
        holding such rules still routes through route(schema=...)."""
        from kafka_processor_cosmos_tx_dispatch_spark.operators import dispatch as dsp
        from kafka_processor_cosmos_tx_dispatch_spark.rules import DispatchRule

        body = T.StructType(
            [
                T.StructField("memo", T.StringType()),
                T.StructField("timeoutHeight", T.LongType()),
                T.StructField("flag", T.BooleanType()),
                T.StructField("heights", T.ArrayType(T.LongType())),
                T.StructField("flags", T.ArrayType(T.BooleanType())),
            ]
        )
        schema = T.StructType([T.StructField("body", body)])
        docs = [
            {"body": {"memo": "m", "timeoutHeight": 1, "flag": True, "heights": [1, 2], "flags": [True]}},
            {"body": {"timeoutHeight": 0, "flag": False, "heights": [], "flags": [False, True]}},
            {"body": {"timeoutHeight": 5, "heights": [0]}},
            {"body": {"flag": True}},
            {"body": {}},
        ]
        paths = [
            "$.body.memo",
            "$.body[?(@.timeoutHeight == true)]",
            "$.body[?(@.timeoutHeight != true)]",
            "$.body[?(@.timeoutHeight < true)]",
            "$.body[?(@.timeoutHeight in [true, 5])]",
            "$.body[?(@.timeoutHeight == 1)]",
            "$.body[?(@.flag == 1)]",
            "$.body[?(@.flag != 1)]",
            "$.body[?(@.flag < 2)]",
            "$.body[?(@.flag == true)]",
            "$.body[?(@.flag in [1, 0])]",
            "$.body[?(@.heights == 1)]",
            "$.body[?(@.heights != 1)]",
            "$.body.heights[?(@ == true)]",
            "$.body.heights[?(@ > 1)]",
            "$.body.flags[?(@ == 1)]",
            "$.body.flags[?(@ != 0)]",
            "$.body.flags[?(@ == true)]",
            "$.body[?(@.memo == 1)]",
            "$.body[?(@.memo != true)]",
        ]
        assert not jp._compare(1, "==", True) and not jp._compare(True, "==", 1)
        assert not jp._compare(True, "<", 2) and jp._compare(True, "!=", 1)
        df = spark.createDataFrame(
            [(i, json.dumps(d)) for i, d in enumerate(docs)], "id long, j string"
        ).withColumn("tx", F.from_json("j", schema))
        cols = [jp.compile_struct_predicate(F.col("tx"), schema, p) for p in paths]
        assert all(c is not None for c in cols)
        rows = df.select("id", *[c.alias(f"p{k}") for k, c in enumerate(cols)]).collect()
        for r in rows:
            txt = json.dumps(docs[r["id"]])
            got = [r[f"p{k}"] for k in range(len(paths))]
            assert got == [jp.match(txt, p) for p in paths], docs[r["id"]]

        rules = [DispatchRule(f"r{k}", f"t{k}", p) for k, p in enumerate(paths[:5])]
        wire = spark.createDataFrame(
            [(f"k{i}", json.dumps(d).encode()) for i, d in enumerate(docs)],
            "key string, value binary",
        )
        routed = dsp.route(wire, rules, schema=schema)
        got = sorted((r["key"], r["topic"]) for r in routed.collect())
        want = []
        for i, d in enumerate(docs):
            topics = [r.topic for r in rules if jp.match(json.dumps(d), r.predicate)]
            want += [(f"k{i}", t) for t in topics or ["dlq"]]
        assert got == sorted(want)


class TestJsonStringTier:
    def test_definite_path_compiles(self, spark):
        df = spark.createDataFrame(
            [(1, '{"k": 87}'), (2, '{"j": 1}'), (3, None)], "id long, props string"
        )
        col = jp.compile_json_string_predicate(F.col("props"), "$.k")
        assert col is not None
        got = {r["id"]: r["m"] for r in df.select("id", col.alias("m")).collect()}
        assert got[1] is True and not got[2] and not got[3]

    def test_filter_path_falls_back(self):
        assert jp.compile_json_string_predicate(F.col("x"), "$.a[?(@.b == 1)]") is None

    def test_explicit_null_is_nonmatch_pinned_divergence(self, spark):
        # Pinned KNOWN DIVERGENCE (see compile_json_string_predicate):
        # tier 2 cannot distinguish {"a": null} from {} — both non-match —
        # while the tier-3 evaluator matches the existing-but-null key.
        # Benign for dispatch: protobuf JSON never emits nulls.
        df = spark.createDataFrame(
            [(1, '{"a": null}'), (2, "{}")], "id long, j string"
        )
        col = jp.compile_json_string_predicate(F.col("j"), "$.a")
        got = {r["id"]: bool(r["m"]) for r in df.select("id", col.alias("m")).collect()}
        assert got == {1: False, 2: False}  # tier 2: both non-match
        assert jp.match('{"a": null}', "$.a") is True  # tier 3 matches

    def test_pandas_udf_fallback(self, spark):
        df = spark.createDataFrame(
            [(1, json.dumps(TX1)), (2, json.dumps(TX2)), (3, "broken {"), (4, None)],
            "id long, j string",
        )
        pred = jp.jsonpath_match_many_pandas_udf([P_FROM])
        got = {r["id"]: r["m"] for r in df.select("id", pred("j").alias("m")).collect()}
        assert got == {1: [False], 2: [True], 3: [False], 4: [False]}


class TestTierConsistencyFuzz:
    """Seeded random records × predicate battery: the tier-1 compiled
    Column must agree with the Python evaluator on every record — the
    compiler's correctness envelope, checked in bulk."""

    PREDICATES = [
        P_TYPE,
        P_FROM,
        P_NOP,
        "$.body.memo",
        "$..gasLimit",
        "$.body.messages",
        "$.body.messages[0]",
        "$.body.messages[?(@.fromAddress == 'addr3')]",
        "$.authInfo.fee[?(@.gasLimit >= 50)]",
        "$.authInfo.fee[?(@.gasLimit < 20)]",
        "$..messages[?(@.toAddress == 'addr7')]",
        "$.body.messages[0:2][?(@.fromAddress == 'addr1')]",
        "$.body.messages[1:]",
        "$.body.messages[0,2]",
        "$.body.messages[?(@.fromAddress in ['addr1', 'addr5'])]",
        "$.body.messages[?(@.fromAddress =~ /addr[0-3]/)]",
    ]

    def _random_tx(self, rng):
        def maybe(v, p=0.3):
            return None if rng.random() < p else v

        n_msgs = rng.randrange(0, 4)
        msgs = [
            {
                "@type": rng.choice(
                    [
                        "type.googleapis.com/cosmos.bank.v1beta1.MsgSend",
                        "type.googleapis.com/other.Msg",
                    ]
                ),
                "fromAddress": maybe(f"addr{rng.randrange(8)}"),
                "toAddress": maybe(f"addr{rng.randrange(8)}"),
                "amount": [
                    {"denom": "uknow", "amount": str(rng.randrange(1000))}
                    for _ in range(rng.randrange(0, 3))
                ],
            }
            for _ in range(n_msgs)
        ]
        tx = {
            "body": maybe(
                {"messages": maybe(msgs, 0.2), "memo": maybe(f"m{rng.randrange(5)}")},
                0.15,
            ),
            "authInfo": maybe(
                {"fee": maybe({"gasLimit": maybe(rng.randrange(100), 0.2)}, 0.2)}, 0.15
            ),
        }
        return {k: v for k, v in tx.items() if v is not None}

    @staticmethod
    def _strip_nulls(obj):
        """Restrict to the protobuf-JSON domain: the reference's printer
        OMITS unset fields, never emits explicit nulls — and a
        present-but-null path is the one case where JsonPath (match) and
        a null struct field (non-match) legitimately disagree."""
        if isinstance(obj, dict):
            return {
                k: TestTierConsistencyFuzz._strip_nulls(v)
                for k, v in obj.items()
                if v is not None
            }
        if isinstance(obj, list):
            return [TestTierConsistencyFuzz._strip_nulls(v) for v in obj]
        return obj

    def test_fuzz_agreement(self, spark):
        import random

        rng = random.Random(20260813)
        txs = [self._strip_nulls(self._random_tx(rng)) for _ in range(150)]
        df = spark.createDataFrame(
            [(i, json.dumps(t)) for i, t in enumerate(txs)],
            "tx_id long, tx_json string",
        ).withColumn("tx", F.from_json("tx_json", TX_TYPE))

        cols, paths = [], []
        for i, path in enumerate(self.PREDICATES):
            compiled = jp.compile_struct_predicate(F.col("tx"), TX_TYPE, path)
            assert compiled is not None, f"{path} should be native-compilable"
            cols.append(compiled.alias(f"p{i}"))
            paths.append(path)

        rows = df.select("tx_id", *cols).collect()
        mismatches = []
        for r in rows:
            tx = txs[r["tx_id"]]
            for i, path in enumerate(paths):
                want = jp.match(json.dumps(tx), path)
                if r[f"p{i}"] != want:
                    mismatches.append((r["tx_id"], path, r[f"p{i}"], want, tx))
        assert not mismatches, mismatches[:5]


class TestExtendedConstructs:
    """Slices, unions, membership, and regex — parser + Python evaluator
    + native tier all agree."""

    TX = {
        "body": {
            "messages": [
                {"@type": "a", "fromAddress": "okp41xyz"},
                {"@type": "b", "fromAddress": "other"},
                {"@type": "c", "fromAddress": "okp49end"},
            ]
        }
    }

    CASES = [
        ("$.body.messages[0:2][?(@.@type == 'b')]", True),
        ("$.body.messages[0:1][?(@.@type == 'b')]", False),
        ("$.body.messages[1:]", True),
        ("$.body.messages[:2]", True),
        ("$.body.messages[0,2][?(@.@type == 'c')]", True),
        ("$.body.messages[0,1][?(@.@type == 'c')]", False),
        ("$.body.messages[?(@.@type in ['b', 'x'])]", True),
        ("$.body.messages[?(@.@type in ['y', 'x'])]", False),
        ("$.body.messages[?(@.fromAddress =~ /okp4.*/)]", True),
        ("$.body.messages[?(@.fromAddress =~ /OKP4.*/i)]", True),
        ("$.body.messages[?(@.fromAddress =~ /OKP4.*/)]", False),
        ("$.body.messages[?(@.fromAddress =~ /kp4/)]", False),  # full match
    ]

    def test_python_evaluator(self):
        txt = json.dumps(self.TX)
        for path, want in self.CASES:
            assert jp.match(txt, path) == want, path

    def test_native_tier_agrees(self, spark):
        df = spark.createDataFrame(
            [(1, json.dumps(self.TX))], "id long, j string"
        ).withColumn("tx", F.from_json("j", TX_TYPE))
        for path, want in self.CASES:
            compiled = jp.compile_struct_predicate(F.col("tx"), TX_TYPE, path)
            assert compiled is not None, f"{path} should compile natively"
            got = df.select(compiled.alias("m")).first()["m"]
            assert got == want, path

    def test_unparseable_rule_is_never_match(self, spark):
        """Reference parity (TopologyProducer.kt:221-223): a rule whose
        predicate can't even be parsed routes nothing — and does not
        break the rest of the rule bank."""
        import warnings

        from kafka_processor_cosmos_tx_dispatch_spark.operators import (
            dispatch as dsp,
        )
        from kafka_processor_cosmos_tx_dispatch_spark.rules import DispatchRule

        from kafka_processor_cosmos_tx_dispatch_spark.sources import txgen

        df = spark.createDataFrame([(1, '{"a": 1}')], "tx_id long, tx_json string")
        rules = [
            DispatchRule("bad", "t1", "$.a[0:2"),  # unterminated bracket
            DispatchRule("good", "t2", "$.a"),
        ]
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            out = dsp.dispatch(df, rules, json_col="tx_json")
        assert [(r["tx_id"], r["topic"]) for r in out.collect()] == [(1, "t2")]

        # route() classifies the bank twice (decode UDF, then dispatch)
        # but warns once; txgen record 1 is the only one from OKP4_ADDR
        wire = [txgen.record_at(i, 0) for i in range(4)]
        wire = spark.createDataFrame(wire, "k string, value binary")
        p_okp4 = f"$..messages[?(@.fromAddress == '{txgen.OKP4_ADDR}')]"
        rules[1] = DispatchRule("good", "t2", p_okp4)
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            out = dsp.route(wire, rules)
        msgs = [str(w.message) for w in caught if "unparseable" in str(w.message)]
        assert len(msgs) == 1 and msgs[0].startswith("rule 'bad'"), msgs
        got = sorted((r["k"], r["topic"]) for r in out.collect())
        assert got == [("tx-0", "dlq"), ("tx-1", "t2"), ("tx-2", "dlq"), ("tx-3", "dlq")]


class TestCompiledPredicateFuzz:
    """The compiled tier-3 (jp.compile_predicate, generated Python
    source — the decode/dispatch hot path) must agree with the tree-walking
    interpreter (jp.evaluate / jp.match, the semantic oracle) on every
    record × predicate pair, including documents OUTSIDE the
    protobuf-JSON domain (explicit nulls, mixed types)."""

    def test_fuzz_agreement_vs_interpreter(self):
        import random

        rng = random.Random(20260814)
        gen = TestTierConsistencyFuzz()
        battery = TestTierConsistencyFuzz.PREDICATES + [
            "$.a[?(@.v > 3 && @.v <= 5)]",
            "$.a[?(@.v == 9 || @.s == 'x')]",
            "$.a[?(!(@.v == 9))]",
            "$..messages[*].amount[0]",
            "$.body.messages[-1:]",
            "$.body[?(@.memo =~ /m[0-2]/i)]",
            # the drain_wire bank's tier-3 shapes
            "$..amount[?(@.denom == 'uknow')]",
            "$..amount[?(@.denom == 'uosmo')]",
            "$..messages[?(@.fromAddress == 'addr3')]",
            "$..messages[?(@.validatorAddress == 'val1')]",
            "$..msgs[?(@.toAddress == 'addr2')]",
            "$.body.messages[?(@.value)]",
            "$.body.messages[?(@.option in ['NO', 'NO_WITH_VETO'])]",
            "$.body.messages[?(@.amount[0].amount in ['5', 5])]",
            "$..messages[?(@.option in ['NO', 3])]",
            "$.body.messages[?(@.option == 1)]",
            # a boolean compares only with a boolean, a number with a number
            "$.body[?(@.timeoutHeight == true)]",
            "$.body.messages[?(@.option == true)]",
            "$.body.messages[?(@.option != 1)]",
            "$.body.messages[?(@.option < 2)]",
            "$.body.messages[?(@.option >= false)]",
            "$.body.messages[?(@.option in [true, 'NO'])]",
        ]
        preds = [jp.compile_predicate(p) for p in battery]
        docs = [gen._random_tx(rng) for _ in range(200)]  # WITH nulls
        docs += [
            {"a": [{"v": 4, "s": "x"}, {"v": 9}]},
            {"a": []},
            {"a": [{"v": "9"}]},  # type mismatch in cmp
            {},
            {"body": {"messages": "not-a-list"}},
            {"body": [1, 2, {"messages": [{"fromAddress": "addr1"}]}]},
        ]
        # nested Any payloads: gov v1 MsgSubmitProposal.messages and
        # authz MsgExec.msgs carry messages inside a message
        for d in docs[:60]:
            msgs = d.get("body", {}).get("messages") if isinstance(d.get("body"), dict) else None
            if isinstance(msgs, list) and msgs:
                inner = [dict(m, validatorAddress="val1", option="NO") for m in msgs if isinstance(m, dict)]
                docs.append(
                    {
                        "body": {
                            "messages": [
                                {"@type": "/cosmos.gov.v1.MsgSubmitProposal", "messages": inner},
                                {"@type": "/cosmos.authz.v1beta1.MsgExec", "msgs": msgs},
                                {"@type": "/x.Opaque", "value": "AAE="},
                            ]
                        }
                    }
                )
        docs += [
            {"body": {"messages": [{"messages": [{"messages": [{"validatorAddress": "val1"}]}]}]}},
            {"body": {"messages": [{"msgs": [{"msgs": {"toAddress": "addr2"}}]}]}},
            {"amount": {"denom": "uosmo"}},
            {"a": {"amount": [None, {"denom": "uosmo"}]}},
            {"body": {"messages": [{"option": 3}, {"option": True}]}},
            {"body": {"messages": [{"amount": [{"amount": 5.0}]}]}},
            {"body": {"timeoutHeight": 1, "messages": [{"option": 1}, {"option": False}]}},
            {"body": {"timeoutHeight": True, "messages": [{"option": 1.0}, {"option": 0}]}},
        ]
        for d in docs:
            txt = json.dumps(d)
            for path, pred in zip(battery, preds):
                assert pred(d) == jp.match(txt, path), (path, d)

    def test_compile_errors_still_raise(self):
        import pytest as _pytest

        with _pytest.raises(jp.JsonPathError):
            jp.compile_predicate("$.a[")

    def test_bad_regex_never_matches(self):
        pred = jp.compile_predicate("$.a[?(@.s =~ /[/)]")
        assert pred({"a": [{"s": "x"}]}) is False
