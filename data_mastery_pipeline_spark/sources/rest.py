"""REST ingestion as a Spark Python Data Source (SURVEY §2.A S1/S2).

The reference fetches weather per city on the DRIVER (requests loop,
weather_producer.py:66-91) and ships records through Kafka. Spark 4's
Python Data Source API moves the fetch onto EXECUTORS — one input
partition per city, so a 10,000-city deployment fans out across the
cluster instead of serializing through one process, and the result is a
plain DataFrame feeding the same downstream operators.

The HTTP call itself is pluggable: `fetch_fn(city)` → raw nested dict
shaped like the OpenWeather payload (weather_producer.py:43-59 test
fixture shape). The default is a DETERMINISTIC synthetic fetcher (this
container has no network); a real deployment passes a `requests`-backed
fetcher with timeout/retry (the reference's 10 s timeout + None-on-error
policy, weather_producer.py:83-91). Parsing/flattening (S2,
weather_producer.py:93-129) happens executor-side per record: nested
dict → 18-field flat row, epoch → timestamp.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator, Sequence
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..localrel import local_frame

try:  # Spark >= 4.0
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
        SimpleDataSourceStreamReader,
    )

    HAVE_DATASOURCE_API = True
except ImportError:  # pragma: no cover — older Spark: driver-side fallback only
    HAVE_DATASOURCE_API = False

DEFAULT_CITIES = ("Paris", "London", "New York", "Tokyo", "Sydney")

# Flat observation schema — the 18-field record of the reference's
# WeatherData dataclass (weather_producer.py:24-48).
WEATHER_SCHEMA = T.StructType(
    [
        T.StructField("city", T.StringType(), False),
        T.StructField("country", T.StringType(), True),
        T.StructField("temperature", T.DoubleType(), True),
        T.StructField("feels_like", T.DoubleType(), True),
        T.StructField("temp_min", T.DoubleType(), True),
        T.StructField("temp_max", T.DoubleType(), True),
        T.StructField("pressure", T.IntegerType(), True),
        T.StructField("humidity", T.IntegerType(), True),
        T.StructField("visibility", T.IntegerType(), True),
        T.StructField("wind_speed", T.DoubleType(), True),
        T.StructField("wind_deg", T.IntegerType(), True),
        T.StructField("clouds", T.IntegerType(), True),
        T.StructField("weather_main", T.StringType(), True),
        T.StructField("weather_description", T.StringType(), True),
        T.StructField("timestamp", T.TimestampType(), True),
        T.StructField("sunrise", T.TimestampType(), True),
        T.StructField("sunset", T.TimestampType(), True),
        T.StructField("ingestion_timestamp", T.TimestampType(), True),
    ]
)

_CONDITIONS = ("Clear", "Clouds", "Rain", "Snow", "Mist")


def synthetic_fetch(city: str, epoch: int = 1_700_000_000) -> dict:
    """Deterministic stand-in for the OpenWeather GET: same nested payload
    shape, values derived from a stable hash of (city, epoch) so every
    run and every engine agrees. Network-free by design."""
    h = int.from_bytes(hashlib.sha256(f"{city}|{epoch}".encode()).digest()[:8], "big")
    cond = _CONDITIONS[h % len(_CONDITIONS)]
    return {
        "name": city,
        "sys": {
            "country": "XX",
            "sunrise": epoch - (h % 20_000),
            "sunset": epoch + 20_000 + (h % 20_000),
        },
        "main": {
            "temp": round(-10 + (h % 4000) / 100.0, 2),
            "feels_like": round(-12 + (h % 4200) / 100.0, 2),
            "temp_min": round(-15 + (h % 3800) / 100.0, 2),
            "temp_max": round(-5 + (h % 4400) / 100.0, 2),
            "pressure": 980 + (h % 60),
            "humidity": h % 101,
        },
        "visibility": 1000 + (h % 9001),
        "wind": {"speed": round((h % 300) / 10.0, 1), "deg": h % 360},
        "clouds": {"all": h % 101},
        "weather": [{"main": cond, "description": f"{cond.lower()} sky"}],
        "dt": epoch,
    }


class HttpFetcher:
    """Real HTTP GET fetcher — stdlib urllib, no extra deps — with the
    reference's WeatherAPIClient policy (weather_producer.py:66-91):
    ``?q={city}&units=metric``, 10 s timeout, None on any error, plus
    bounded retries with linear backoff (the producer's retries=3,
    weather_producer.py:151). A module-level class (not a closure) so it
    pickles to executors inside the data-source reader.

    The poll epoch is forwarded as ``dt`` so deterministic test servers
    can echo time-dependent payloads; real endpoints ignore it.
    """

    def __init__(
        self,
        base_url: str,
        api_key: str | None = None,
        timeout_seconds: float = 10.0,
        retries: int = 3,
        backoff_seconds: float = 0.5,
    ) -> None:
        self.base_url = base_url
        self.api_key = api_key
        self.timeout_seconds = timeout_seconds
        self.retries = retries
        self.backoff_seconds = backoff_seconds

    def __call__(self, city: str, epoch: int) -> dict | None:
        import json
        import time
        import urllib.parse
        import urllib.request

        params = {"q": city, "units": "metric", "dt": str(epoch)}
        if self.api_key:
            params["appid"] = self.api_key
        url = f"{self.base_url}?{urllib.parse.urlencode(params)}"
        for attempt in range(max(1, self.retries)):
            try:
                with urllib.request.urlopen(url, timeout=self.timeout_seconds) as resp:
                    if getattr(resp, "status", 200) != 200:
                        raise OSError(f"HTTP {resp.status}")
                    return json.loads(resp.read().decode("utf-8"))
            except Exception:
                if attempt + 1 < self.retries:
                    time.sleep(self.backoff_seconds * (attempt + 1))
        return None


def parse_weather(raw: dict, ingestion_ts: datetime | None = None) -> tuple | None:
    """S2 — nested payload → flat 18-tuple matching WEATHER_SCHEMA; None
    on malformed input (the reference's None-on-error contract,
    weather_producer.py:93-129)."""
    try:
        utc = timezone.utc
        ts = lambda e: datetime.fromtimestamp(e, tz=utc).replace(tzinfo=None)  # noqa: E731
        main, wx = raw["main"], raw["weather"][0]
        return (
            raw["name"],
            raw.get("sys", {}).get("country"),
            float(main["temp"]),
            float(main["feels_like"]),
            float(main["temp_min"]),
            float(main["temp_max"]),
            int(main["pressure"]),
            int(main["humidity"]),
            int(raw.get("visibility", 0)),  # .get default (producer :113)
            float(raw["wind"]["speed"]),
            int(raw["wind"]["deg"]),
            int(raw["clouds"]["all"]),
            wx["main"],
            wx["description"],
            ts(raw["dt"]),
            ts(raw["sys"]["sunrise"]),
            ts(raw["sys"]["sunset"]),
            (ingestion_ts or ts(raw["dt"])),
        )
    except (KeyError, IndexError, TypeError, ValueError):
        return None


def _fetcher_from_options(options: dict) -> Callable[[str, int], dict | None]:
    """base_url option set → real HTTP fetch (executor-side); otherwise
    the deterministic synthetic fetcher (no network in this container)."""
    base_url = options.get("base_url")
    if not base_url:
        return synthetic_fetch
    return HttpFetcher(
        base_url,
        api_key=options.get("api_key") or None,
        timeout_seconds=float(options.get("timeout_seconds", 10.0)),
        retries=int(options.get("retries", 3)),
        backoff_seconds=float(options.get("backoff_seconds", 0.5)),
    )


if HAVE_DATASOURCE_API:

    class _CityPartition(InputPartition):
        def __init__(self, city: str, epoch: int) -> None:
            self.city = city
            self.epoch = epoch

    class WeatherRestReader(DataSourceReader):
        def __init__(self, options: dict) -> None:
            cities = options.get("cities", ",".join(DEFAULT_CITIES))
            self.cities = [c.strip() for c in cities.split(",") if c.strip()]
            self.epoch = int(options.get("epoch", 1_700_000_000))
            # batch backfill range: n_cycles polls, `interval` apart —
            # one SCAN with cities×cycles partitions instead of a union
            # of per-cycle reads (one plan node however long the range)
            self.n_cycles = int(options.get("n_cycles", 1))
            self.interval = int(options.get("interval", 3600))
            self.fetch = _fetcher_from_options(options)

        def partitions(self) -> Sequence[InputPartition]:
            # One partition per (city, poll epoch) → executor-parallel fetch.
            return [
                _CityPartition(c, self.epoch + i * self.interval)
                for i in range(self.n_cycles)
                for c in self.cities
            ]

        def read(self, partition: _CityPartition) -> Iterator[tuple]:
            raw = self.fetch(partition.city, partition.epoch)
            row = parse_weather(raw) if raw is not None else None
            if row is not None:
                yield row

    class WeatherRestStreamReader(SimpleDataSourceStreamReader):
        """Streaming twin of the reference's poll loop
        (weather_producer.py:252-271: fetch every interval, forever).
        Each micro-batch is one poll cycle over all cities; the OFFSET is
        the poll epoch, so the checkpoint WAL replays missed cycles
        exactly (readBetweenOffsets) — the S8 commit protocol for a
        source with no broker."""

        def __init__(self, options: dict) -> None:
            cities = options.get("cities", ",".join(DEFAULT_CITIES))
            self.cities = [c.strip() for c in cities.split(",") if c.strip()]
            self.epoch0 = int(options.get("epoch", 1_700_000_000))
            self.interval = int(options.get("interval", 3600))  # config.yaml:11
            self.fetch = _fetcher_from_options(options)

        def initialOffset(self) -> dict:
            return {"epoch": self.epoch0}

        def _rows(self, epoch: int) -> list[tuple]:
            # materialized list, not a generator: the prefetch cache
            # copies the returned iterator (generators don't pickle)
            raws = (self.fetch(c, epoch) for c in self.cities)
            rows = (parse_weather(r) for r in raws if r is not None)
            return [r for r in rows if r is not None]

        def read(self, start: dict):
            epoch = int(start["epoch"])
            return self._rows(epoch), {"epoch": epoch + self.interval}

        def readBetweenOffsets(self, start: dict, end: dict) -> list[tuple]:
            return [
                row
                for epoch in range(int(start["epoch"]), int(end["epoch"]), self.interval)
                for row in self._rows(epoch)
            ]

    class WeatherRestDataSource(DataSource):
        """`spark.read.format("weather_rest")` (batch) and
        `spark.readStream.format("weather_rest")` (poll-loop stream)."""

        @classmethod
        def name(cls) -> str:
            return "weather_rest"

        def schema(self) -> T.StructType:
            return WEATHER_SCHEMA

        def reader(self, schema: T.StructType) -> DataSourceReader:
            return WeatherRestReader(self.options)

        def simpleStreamReader(self, schema: T.StructType) -> SimpleDataSourceStreamReader:
            return WeatherRestStreamReader(self.options)


def register(spark: SparkSession) -> None:
    """Register the weather_rest format on this session. Registration is
    an overwrite-by-name (re-registering is harmless), so no caching —
    an id(spark)-keyed cache would wrongly skip a NEW session allocated
    at a GC'd session's address (same fix as kafkawire.register,
    review r6)."""
    if not HAVE_DATASOURCE_API:
        raise RuntimeError("Python Data Source API requires Spark >= 4.0")
    spark.dataSource.register(WeatherRestDataSource)


def read_weather(
    spark: SparkSession,
    cities: Sequence[str] = DEFAULT_CITIES,
    epoch: int = 1_700_000_000,
    n_cycles: int = 1,
    interval: int = 3600,
    base_url: str | None = None,
    api_key: str | None = None,
) -> DataFrame:
    """Executor-parallel REST ingest → flat typed DataFrame. With
    ``n_cycles`` > 1, one scan covers the whole backfill range
    (cities × cycles input partitions). With ``base_url``, each
    partition performs a REAL executor-side HTTP GET (HttpFetcher:
    10 s timeout, 3 retries, None-on-error drops the row)."""
    register(spark)
    reader = (
        spark.read.format("weather_rest")
        .option("cities", ",".join(cities))
        .option("epoch", str(epoch))
        .option("n_cycles", str(n_cycles))
        .option("interval", str(interval))
    )
    if base_url:
        reader = reader.option("base_url", base_url)
    if api_key:
        reader = reader.option("api_key", api_key)
    return reader.load()


def read_weather_driver_side(
    spark: SparkSession,
    cities: Sequence[str] = DEFAULT_CITIES,
    epoch: int = 1_700_000_000,
    fetch_fn: Callable[[str, int], dict] = synthetic_fetch,
) -> DataFrame:
    """Driver-side fallback (the reference's own loop shape): fetch all
    cities in-process, then ship them as a plan literal. Fine for 5
    cities; the data source above is the scale path."""
    rows = [r for c in cities if (r := parse_weather(fetch_fn(c, epoch))) is not None]
    return local_frame(spark, rows, WEATHER_SCHEMA)


def stream_weather(
    spark: SparkSession,
    cities: Sequence[str] = DEFAULT_CITIES,
    epoch: int = 1_700_000_000,
    interval: int = 3600,
) -> DataFrame:
    """Poll-loop stream: one micro-batch per fetch cycle (the reference's
    producer loop as a readStream)."""
    register(spark)
    return (
        spark.readStream.format("weather_rest")
        .option("cities", ",".join(cities))
        .option("epoch", str(epoch))
        .option("interval", str(interval))
        .load()
    )
