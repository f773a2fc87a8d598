"""The backfill workloads: input generators, pipelines, expectations.

Every workload builds its inputs from the seed alone and computes the
records it expects at the sink from the generator, never from the Spark
path it measures. The seed changes names and values; it never changes
row counts, row widths or how rows split across scan slices, so runs
with different seeds time the same amount of work.

- ``intent_decrypt``: payment_intent rows whose ``customer_details``
  JSON is encrypted with a per-merchant key; range-sliced scan, broadcast
  key join + decrypt, event projection, uncompressed Produce v3; traced
  runs also fetch every record back with Fetch v4.
- ``refund_merchant_dryrun``: refund rows generated on the server with
  Zipf-skewed merchant sizes, read the way the CLI's ``--merchant-id …
  --dry-run`` reads them: merchant predicate slices, ``compile_job``,
  per-topic count plus one payload sample.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass, field

import numpy as np

from brokerproc import digest8

TENANT = "default"
BATCH_SIZE = 10_000  # rows per produce request, the reference's page size
_LETTERS = "abcdefghijklmnopqrstuvwxyz"


def dumps(obj) -> str:
    """JSON exactly as Spark's ``to_json`` writes ASCII strings and ints."""
    return json.dumps(obj, separators=(",", ":"))


def _word(rng: random.Random, n: int) -> str:
    return "".join(rng.choice(_LETTERS) for _ in range(n))


def _copy_lines(rows):
    """COPY text lines; callers only pass ints, plain ASCII text and bytes."""
    for row in rows:
        yield "\t".join(
            "\\\\x" + v.hex() if isinstance(v, bytes) else str(v) for v in row)


@dataclass
class Expected:
    """What the sink must hold after one job."""

    rows: int
    digests: dict[bytes, bytes] = field(default_factory=dict)  # key -> value
    sample: list[tuple[bytes, bytes]] = field(default_factory=list)  # raw records
    counts: dict[str, int] = field(default_factory=dict)  # dry-run topic -> rows


def check_sink(expected: Expected, blob: bytes) -> dict:
    """Compare the sink's (key, value) digests with the expected ones.

    ``failed`` counts expected rows with no correct record at the sink
    plus records whose key was never produced; extra copies of a correct
    record are duplicates, which at-least-once delivery allows."""
    seen_ok: set[bytes] = set()
    records = invented = wrong = 0
    for i in range(0, len(blob), 16):
        records += 1
        k, v = blob[i:i + 8], blob[i + 8:i + 16]
        want = expected.digests.get(k)
        if want is None:
            invented += 1
        elif want == v:
            seen_ok.add(k)
        else:
            wrong += 1
    correct = len(seen_ok)
    return {
        "records": records,
        "failed": (expected.rows - correct) + invented,
        "duplicates": records - correct - wrong - invented,
        "wrong": wrong,
    }


# ------------------------------------------------------------ base

class Workload:
    """One workload's generator and pipeline pieces. ``prefixes`` lists
    the job's cumulative prefixes; the last one is the full job."""

    name = ""
    table = ""
    topic = ""
    compression = "none"
    kafka = False     # produces into the broker double
    readback = False  # traced runs fetch every record back
    decrypt = False
    needle = None     # bytes every sink value must contain
    scan_slices = 4   # range slices of the scan; the benchmark sets its slot count

    def __init__(self) -> None:
        self.loaded: dict[str, tuple[int, int]] = {}  # table -> (rows, seed)

    # set-up ---------------------------------------------------------
    def prepare(self, table: str, rows: int, seed: int):
        """Generate ``rows`` rows for ``table`` from ``seed``. Returns a
        loader, which creates and fills the table over a PgConnection,
        and the sink's expectations."""
        raise NotImplementedError

    # pipeline pieces, each a public package call ---------------------
    def scan(self, spark, pg, table: str):
        from hyperswitch_data_backfill_spark.sources.pgwire import read_pgwire

        return read_pgwire(
            spark, pg.host, pg.port, table, user=pg.user, database=pg.database,
            partition_column="id", num_partitions=self.scan_slices)

    def events(self, df):
        from hyperswitch_data_backfill_spark.sinks.kafka import event_frame

        return event_frame(df, ["merchant_id", "id"], self.topic, TENANT, self.payload())

    def payload(self):
        raise NotImplementedError

    def produce(self, df, port: int) -> None:
        from hyperswitch_data_backfill_spark.sinks.kafka_wire_v2 import write_kafka_wire_v2

        write_kafka_wire_v2(df, "127.0.0.1", port, batch_size=BATCH_SIZE,
                            compression=self.compression)

    def fetch(self, spark, port: int):
        """Read every record back (Fetch v4) and digest it in the plan."""
        from pyspark.sql import functions as F

        from hyperswitch_data_backfill_spark.sources.kafka_fetch import read_kafka_wire

        df = read_kafka_wire(spark, "127.0.0.1", port, self.topic, version=4)
        return df, df.select(F.unhex(F.md5("key")).substr(1, 8).alias("k"),
                             F.unhex(F.md5("value")).substr(1, 8).alias("v"))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ------------------------------------------------------ intent_decrypt

class IntentDecrypt(Workload):
    """payment_intent with per-merchant-key encrypted customer_details."""

    name = "intent_decrypt"
    table = "payment_intent"
    topic = "payment-intent-events"
    kafka = True
    readback = True
    decrypt = True
    needle = b'"customer_details":'  # to_json drops the field when decrypt fails
    merchants = 50

    def keys_table(self, table: str) -> str:
        return f"{table}_key_store"

    def prepare(self, table: str, rows: int, seed: int):
        from hyperswitch_data_backfill_spark.functions.crypto import derive_key, xor_cipher

        rng = random.Random(seed)
        merchants = [f"mer_{_word(rng, 8)}" for _ in range(self.merchants)]
        firsts = [_word(rng, 7).capitalize() for _ in range(256)]
        lasts = [_word(rng, 9).capitalize() for _ in range(256)]
        cities = [_word(rng, 8).capitalize() for _ in range(64)]
        statuses = ("succeeded", "processing", "requires_capture", "failed")
        currencies = ("USD", "EUR", "INR", "GBP")
        plain_max = 256
        pads = {m: xor_cipher(bytes(plain_max), derive_key(m)) for m in merchants}
        out = Expected(rows=rows)
        data = []
        for i in range(rows):
            m = merchants[i % self.merchants]
            first, last = firsts[rng.randrange(256)], lasts[rng.randrange(256)]
            details = dumps({
                "name": f"{first} {last}",
                "email": f"{first.lower()}.{last.lower()}@example.com",
                "phone": f"+1-555-{rng.randrange(10**7):07d}",
                "address": {"line1": f"{rng.randrange(1, 9999)} {last} Street",
                            "city": cities[rng.randrange(64)],
                            "zip": f"{rng.randrange(10**5):05d}"},
            }).encode()
            n = len(details)
            enc = (int.from_bytes(details, "big")
                   ^ int.from_bytes(pads[m][:n], "big")).to_bytes(n, "big")
            row = (i, f"pay_{i:010d}", m, statuses[rng.randrange(4)],
                   rng.randrange(100, 10**7), currencies[rng.randrange(4)])
            data.append(row + (enc,))
            key = f"{m}:{i}".encode()
            value = dumps(dict(zip(
                ("id", "payment_id", "merchant_id", "status", "amount", "currency"), row),
                customer_details=details.decode(), tenant_id=TENANT)).encode()
            out.digests[digest8(key)] = digest8(value)
            if len(out.sample) < BATCH_SIZE:
                out.sample.append((key, value))

        def load(conn) -> None:
            conn.execute(
                f"CREATE TABLE {table} (id bigint PRIMARY KEY, payment_id text,"
                " merchant_id text, status text, amount bigint, currency text,"
                " customer_details bytea)")
            conn.copy_in(f"COPY {table} FROM STDIN", _copy_lines(data))
            keys = self.keys_table(table)
            conn.execute(f"CREATE TABLE {keys} (merchant_id text PRIMARY KEY)")
            conn.copy_in(f"COPY {keys} FROM STDIN", iter(merchants))

        return load, out

    def payload(self):
        from pyspark.sql import functions as F

        return [F.col(c) for c in ("id", "payment_id", "merchant_id", "status",
                                   "amount", "currency")] + [
            F.col("decrypted").cast("string").alias("customer_details")]

    def with_decrypt(self, spark, pg, table: str, df):
        from hyperswitch_data_backfill_spark.functions.crypto import (
            decrypt_with_broadcast_keys,
            derive_keys_df,
        )
        from hyperswitch_data_backfill_spark.sources.pgwire import read_pgwire

        store = read_pgwire(spark, pg.host, pg.port, self.keys_table(table),
                            user=pg.user, database=pg.database)
        keys = derive_keys_df(store, "merchant_id")
        return decrypt_with_broadcast_keys(df, keys, "merchant_id", "customer_details")

    def prefixes(self, spark, pg, table: str, port: int | None):
        """Cumulative prefixes of the job: (name, zero-arg action)."""
        scan = lambda: self.scan(spark, pg, table)  # noqa: E731
        dec = lambda: self.with_decrypt(spark, pg, table, scan())  # noqa: E731
        return [
            ("scan", lambda: _noop(scan())),
            ("decrypt", lambda: _noop(dec())),
            ("event", lambda: _noop(self.events(dec()))),
            ("produce", lambda: self.produce(self.events(dec()), port)),
        ]


# --------------------------------------------- refund_merchant_dryrun

class RefundMerchantDryrun(Workload):
    """Refunds generated server-side with Zipf-skewed merchant sizes,
    read as the CLI's ``--merchant-id … --dry-run`` reads them."""

    name = "refund_merchant_dryrun"
    table = "refund"
    topic = "refund-events"
    merchants = 100
    zipf_s = 1.0
    # Allow-list by size rank (1 = largest). Fixed ranks keep the slice
    # sizes, and so the skew, the same for every seed.
    allow_ranks = (1, 3, 5, 7, 9, 11, 13, 15, 17, 19, 21, 23)
    parallel = 4  # the CLI's --parallel: slices of ceil(12 / 4) merchants
    _remap = {"id": "entity_id", "merchant_id": "merchant_id", "refund_id": "refund_id",
              "payment_id": "payment_id", "status": "status", "amount": "amount",
              "reason": "reason"}
    _base = np.datetime64("2024-01-01T00:00:00")

    def _layout(self, rows: int, seed: int):
        """Merchant names by rank and each rank's id range [lo, hi)."""
        rng = random.Random(seed)
        weights = 1.0 / np.arange(1, self.merchants + 1) ** self.zipf_s
        sizes = np.floor(rows * weights / weights.sum()).astype(np.int64)
        sizes[0] += rows - sizes.sum()
        names = [f"mer_{_word(rng, 8)}" for _ in range(self.merchants)]
        bounds = np.concatenate([[0], np.cumsum(sizes)])
        return names, [(int(bounds[r]), int(bounds[r + 1])) for r in range(self.merchants)]

    def _step(self, rows: int) -> int:
        """Multiplier spreading created_at over the id space (coprime to rows)."""
        step = 7919
        while np.gcd(step, rows) != 1:
            step += 2
        return step

    def window(self, rows: int) -> tuple[str, str]:
        """The job's time window: drops the earliest and latest 5% of refunds."""
        lo, hi = self._base + np.timedelta64(rows // 20, "s"), \
            self._base + np.timedelta64(rows - rows // 20 - 1, "s")
        return str(lo).replace("T", " "), str(hi).replace("T", " ")

    def allow(self, table: str) -> list[str]:
        names, _ = self._layout(*self.loaded[table])
        return [names[r - 1] for r in self.allow_ranks]

    def prepare(self, table: str, rows: int, seed: int):
        seed %= 2**31  # the seed enters SQL arithmetic, where % keeps the sign
        self.loaded[table] = (rows, seed)
        names, ranges = self._layout(rows, seed)
        step = self._step(rows)
        values = ", ".join(f"('{n}', {lo}, {hi})" for n, (lo, hi) in zip(names, ranges))

        def load(conn) -> None:  # the server generates the rows itself
            conn.execute(
                f"CREATE TABLE {table} (id bigint, refund_id text, merchant_id text,"
                " payment_id text, status text, amount bigint, reason text,"
                " created_at timestamp)")
            conn.execute(
                f"INSERT INTO {table} SELECT g, 'ref_' || lpad(g::text, 10, '0'),"
                f" m.name, 'pay_' || lpad(((g * 37 + {seed}) % {rows})::text, 10, '0'),"
                f" (ARRAY['succeeded','pending','failure'])[(g + {seed}) % 3 + 1],"
                f" (g * 7919 + {seed}) % 100000, 'reason-' || ((g * 31 + {seed}) % 97),"
                f" timestamp '2024-01-01' + ((g * {step}) % {rows}) * interval '1 second'"
                f" FROM (VALUES {values}) AS m(name, lo, hi),"
                " generate_series(m.lo::bigint, m.hi::bigint - 1) AS g")
            conn.execute(f"CREATE INDEX ON {table} (merchant_id, created_at)")

        # the rows the job must count, and a codec sample, from the layout alone
        w_lo, w_hi = rows // 20, rows - rows // 20 - 1
        count, sample = 0, []
        for r in self.allow_ranks:
            lo, hi = ranges[r - 1]
            ids = np.arange(lo, hi, dtype=np.int64)
            ids = ids[(ids * step % rows >= w_lo) & (ids * step % rows <= w_hi)]
            count += len(ids)
            sample += [self.record(int(g), names[r - 1], rows, seed)
                       for g in ids[:BATCH_SIZE - len(sample)]]
        return load, Expected(rows=count, sample=sample, counts={self.topic: count})

    def record(self, g: int, name: str, rows: int, seed: int) -> tuple[bytes, bytes]:
        """The (key, value) the job projects for refund ``g``."""
        row = {"id": g, "merchant_id": name, "refund_id": f"ref_{g:010d}",
               "payment_id": f"pay_{(g * 37 + seed) % rows:010d}",
               "status": ("succeeded", "pending", "failure")[(g + seed) % 3],
               "amount": (g * 7919 + seed) % 100000, "reason": f"reason-{(g * 31 + seed) % 97}"}
        value = {dst: row[src] for src, dst in self._remap.items()}
        value["tenant_id"] = TENANT
        return f"{name}:{g}".encode(), dumps(value).encode()

    def check_dry_run(self, table: str, expected: Expected, result: dict) -> int:
        """Rows by which a dry run's counts are off, plus one for a wrong
        or missing sample."""
        failed = 0
        for topic, want in expected.counts.items():
            n, sample = result.get(topic, (0, None))
            failed += abs(want - n) + (0 if sample and self.check_sample(table, *sample) else 1)
        return failed

    def check_sample(self, table: str, key: str, value: str) -> bool:
        """The sampled payload is the generator's record for an allowed,
        in-window refund."""
        rows, seed = self.loaded[table]
        names, ranges = self._layout(rows, seed)
        allowed = {names[r - 1]: ranges[r - 1] for r in self.allow_ranks}
        name, _, g = key.rpartition(":")
        if name not in allowed or not g.isdigit():
            return False
        (lo, hi), g = allowed[name], int(g)
        in_window = rows // 20 <= g * self._step(rows) % rows <= rows - rows // 20 - 1
        return lo <= g < hi and in_window and \
            self.record(g, name, rows, seed) == (key.encode(), value.encode())

    def spec(self, table: str):
        from hyperswitch_data_backfill_spark.plans.spec import BackfillSpec, EntitySpec

        start, end = self.window(self.loaded[table][0])
        entity = EntitySpec(table=table, merchant_col="merchant_id",
                            time_col="created_at", key_cols=("merchant_id", "id"),
                            topic=self.topic, remap=self._remap)
        return BackfillSpec(entities=(entity,), start=start, end=end,
                            merchant_ids=tuple(self.allow(table)), tenant_id=TENANT)

    def scan(self, spark, pg, table: str):
        from hyperswitch_data_backfill_spark.sources.jdbc import merchant_predicates
        from hyperswitch_data_backfill_spark.sources.pgwire import read_pgwire_predicates

        allow = self.allow(table)
        start, end = self.window(self.loaded[table][0])
        preds = merchant_predicates("merchant_id", allow, "created_at", start, end,
                                    group_size=-(-len(allow) // self.parallel))
        return read_pgwire_predicates(spark, pg.host, pg.port, table, preds,
                                      user=pg.user, database=pg.database)

    def dry_run(self, spark, pg, table: str) -> dict:
        """compile_job, then per topic a count and one payload sample."""
        from hyperswitch_data_backfill_spark.plans.spec import compile_job

        frames = compile_job({table: self.scan(spark, pg, table)}, self.spec(table))
        out = {}
        for topic, frame in frames.items():
            n = frame.count()
            sample = frame.limit(1).collect()
            out[topic] = (n, (sample[0]["key"], sample[0]["value"]) if sample else None)
        return out

    def prefixes(self, spark, pg, table: str, port: int | None):
        # the dry run's sink is a count, so the scan prefix counts too
        return [
            ("scan", lambda: self.scan(spark, pg, table).count()),
            ("spec", lambda: self.dry_run(spark, pg, table)),
        ]


WORKLOADS = {w.name: w for w in (IntentDecrypt, RefundMerchantDryrun)}
