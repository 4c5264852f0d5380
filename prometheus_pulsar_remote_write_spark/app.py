"""Config-driven application entry: the Spark analog of the reference's
embeddable App (pkg/app/app.go:52-147 -- ``app.New(...).Run(ctx, args...)``
with ``produce``/``consume`` commands and their kingpin flag surface).

The reference's process model maps onto Spark like this:

  reference flag                       -> AppConfig field
  ------------------------------------------------------------------
  produce | consume (command)          -> mode
  pulsar.topic / pulsar.url            -> bus_dir (message-bus directory;
                                          a real broker client drops into
                                          FilePublisher / read_payload_stream)
  pulsar client construction           -> client ("file" | "module:factory"
                                          returning a streaming/bus.py
                                          MessageBusClient -- the A2/A3
                                          adapter seam, pulsar.go:75-121,
                                          226-263)
  pulsar.serializer                    -> serializer ("json" | "json-compat" |
                                          "avro-json-compat" |
                                          "avro-json-compat=<schema file>",
                                          pkg/app/pulsar.go:161-190)
  replica-label (repeatable)           -> replica_labels (produce.go:49-50)
  web.write-path                       -> drop_dir (produce.go:47-48; the
                                          HTTP edge is a drop directory of
                                          remote-write bodies here)
  remote-write.url                     -> remote_write_url (consume.go:44-45)
  pulsar.subscription                  -> subscription (consume.go:42-43;
                                          names the checkpoint, so consumers
                                          sharing it share progress)
  batch max delay (app.go:36-38)       -> batch_max_delay_ms (an upper
                                          bound: continuous consume
                                          triggers every min(this, 1 s))
  batch size 100 (write.go:20-24)      -> batch_size
  send-timeout                         -> send_timeout_s
  log.level / log.format (app.go:61,   -> log_level / log_format
    promlogflag.AddFlags)                 (applied via apply_logging:
                                          package logger + Spark setLogLevel)

Only pprof (web.disable-pprof) has no analog here -- profiling is
Spark-UI territory; observability rides DeliveryMetrics (with
Prometheus text exposition) and Spark's own UI/listeners.
``--web.listen`` IS implemented (a live HTTP receiver with /write,
/ready and a relocatable --web.telemetry-path metrics endpoint, plus
--web.max-connection-age keep-alive capping),
and the full broker client-option surface (pulsar.url, connection
timeout, TLS trust/client material, hostname-verification toggles,
pool size -- pkg/app/pulsar.go:73-115) parses into
``AppConfig.client_options()`` for the ``--pulsar.client`` seam.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

#: the serializer configs the reference accepts (pkg/app/pulsar.go:26-39)
SERIALIZERS = ("json", "json-compat", "avro-json-compat")

#: promlog's allowed --log.level values -> Spark/log4j level names
_LOG_LEVELS = {"debug": "DEBUG", "info": "INFO", "warn": "WARN", "error": "ERROR"}
#: promlog's allowed --log.format values
_LOG_FORMATS = ("logfmt", "json")


def apply_logging(cfg: "AppConfig", spark: SparkSession | None = None):
    """Apply the --log.level / --log.format flags (reference
    pkg/app/app.go:61, promlog): set the package logger to the chosen
    level with a logfmt- or JSON-shaped line format (promlog's two
    output styles), and propagate the level to the JVM via
    ``SparkContext.setLogLevel`` so Spark/log4j verbosity follows the
    same flag. Idempotent -- re-applying replaces the previous handler."""
    import json as _json
    import logging
    import time as _time

    py_level = {"warn": "WARNING"}.get(cfg.log_level, cfg.log_level).upper()
    logger = logging.getLogger(__package__ or "prometheus_pulsar_remote_write_spark")
    logger.setLevel(getattr(logging, py_level))
    # this handler is the line format: letting records ALSO propagate to
    # a root handler (logging.basicConfig anywhere in the process) would
    # print every message twice
    logger.propagate = False

    class _PromlogFormatter(logging.Formatter):
        # the 'Z' designator must mean UTC: formatTime defaults to LOCAL
        # time, which would mislabel every timestamp by the host's UTC
        # offset on non-UTC machines (promlog emits genuine UTC)
        converter = _time.gmtime

        def format(self, record):
            ts = self.formatTime(record, "%Y-%m-%dT%H:%M:%SZ")
            level = record.levelname.lower().replace("warning", "warn")
            if cfg.log_format == "json":
                return _json.dumps(
                    {
                        "ts": ts,
                        "level": level,
                        "caller": record.name,
                        "msg": record.getMessage(),
                    },
                    separators=(",", ":"),
                )
            # go-kit's logfmt encoder escapes backslashes and newlines
            # too: a multi-line message would otherwise split into an
            # unparseable second line, and a bare backslash makes the
            # escaped quote ambiguous to logfmt parsers
            msg = (
                record.getMessage()
                .replace("\\", "\\\\")
                .replace('"', '\\"')
                .replace("\n", "\\n")
                .replace("\r", "\\r")
            )
            return f'ts={ts} level={level} caller={record.name} msg="{msg}"'

    handler = logging.StreamHandler()
    handler.setFormatter(_PromlogFormatter())
    handler._pprw_log_handler = True
    logger.handlers = [
        h for h in logger.handlers if not getattr(h, "_pprw_log_handler", False)
    ]
    logger.addHandler(handler)
    if spark is not None:
        spark.sparkContext.setLogLevel(_LOG_LEVELS[cfg.log_level])
    return logger


@dataclass
class AppConfig:
    mode: str  # "produce" | "consume"
    bus_dir: str  # message-bus directory (pulsar.topic analog)
    serializer: str = "json"
    client: str = "file"  # bus client: "file" | "module:factory" (broker seam)
    # broker client options (reference pkg/app/pulsar.go:73-93): parsed and
    # validated here, handed verbatim to the --pulsar.client factory via
    # client_options(); the FileBus ignores them (no connection to secure)
    pulsar_url: str = ""
    connect_timeout_s: float = 30.0
    certificate_authority: str = ""
    client_certificate: str = ""
    client_key: str = ""
    insecure_skip_tls_verify: bool = False
    insecure_skip_tls_validate_hostname: bool = False
    max_connections_per_broker: int = 1
    # produce
    drop_dir: str | None = None  # remote-write body drop (web.write-path analog)
    listen: str | None = None  # "host:port" -> start a live HTTP receiver
    #   writing the drop_dir spool (web.listen-address analog; port 0 = any)
    telemetry_path: str = "/metrics"  # web.telemetry-path (app.go:64-65)
    # web.max-connection-age analog (reference app.go:68-69, server.go:58-66):
    # 0 = unlimited; > 0 caps persistent HTTP connection lifetime so an LB
    # re-balances long-running remote_write connections
    max_connection_age_s: float = 0.0
    replica_labels: list = field(default_factory=lambda: ["__replica__"])
    # consume
    remote_write_url: str | None = None
    subscription: str = "pulsar-adapter"
    batch_size: int = 100
    batch_max_delay_ms: int = 5000
    send_timeout_s: float = 30.0
    # --consume.dedup-within (engine extension, no reference analog: the
    # reference is at-least-once with no replay dedup, pulsar.go:204-213).
    # A duration ('10m') turns on dropDuplicatesWithinWatermark over the
    # sample identity; 0/unset keeps reference semantics. SURVEY §4.
    dedup_within_ms: int = 0
    dlq_dir: str | None = None
    poison_dir: str | None = None
    post_fn: object = None  # injectable HTTP POST (tests / custom clients)
    # logging (reference pkg/app/app.go:61 promlogflag.AddFlags --
    # --log.level / --log.format; promlog's allowed values and error shape)
    log_level: str = "info"
    log_format: str = "logfmt"
    # execution
    trigger_once: bool = True
    work_dir: str | None = None  # checkpoints + default dlq/poison live here

    def validate(self) -> "AppConfig":
        if self.mode not in ("produce", "consume"):
            raise ValueError(f"unknown command {self.mode!r}")
        if self.log_level not in _LOG_LEVELS:
            raise ValueError(f'unrecognized log level "{self.log_level}"')
        if self.log_format not in _LOG_FORMATS:
            raise ValueError(f'unrecognized log format "{self.log_format}"')
        fmt = self.serializer
        if fmt not in SERIALIZERS and not fmt.startswith("avro-json-compat="):
            raise ValueError(f"unknown Pulsar serializer config {fmt!r}")
        if self.mode == "produce" and not self.drop_dir:
            raise ValueError("produce requires drop_dir (web.write-path analog)")
        if self.listen and not self.drop_dir:
            raise ValueError(
                "--web.listen requires --web.write-path: the HTTP listener "
                "spools accepted bodies there"
            )
        if self.mode == "consume" and not self.remote_write_url:
            raise ValueError("consume requires remote_write_url (remote-write.url)")
        self.client_options()  # TLS pair validation (pulsar.go:96-103)
        return self

    def client_options(self) -> dict:
        """Broker client options (reference pulsarConfig.clientOptions,
        pkg/app/pulsar.go:96-115): URL, connection timeout, TLS trust/
        client material, hostname-verification toggles, pool size. TLS
        client auth requires BOTH key and certificate (the reference's
        rule). The dict is handed to the --pulsar.client factory; the
        default FileBus has no connection and ignores it."""
        if bool(self.client_key) != bool(self.client_certificate):
            raise ValueError(
                "both pulsar.client-key and pulsar.client-certificate need "
                "to be specified"
            )
        return {
            "url": self.pulsar_url,
            "connection_timeout_s": self.connect_timeout_s,
            "tls_trust_certs_file_path": self.certificate_authority,
            "tls_client_cert_file_path": self.client_certificate,
            "tls_client_key_file_path": self.client_key,
            "tls_allow_insecure_connection": self.insecure_skip_tls_verify,
            "tls_validate_hostname": not self.insecure_skip_tls_validate_hostname,
            "max_connections_per_broker": self.max_connections_per_broker,
        }

    def _work(self, name: str) -> str:
        base = self.work_dir or os.path.join(self.bus_dir, "_app")
        return os.path.join(base, name)

    def bus(self):
        """The MessageBusClient this config selects (streaming/bus.py):
        FileBus for the default, or the --pulsar.client factory's return
        -- the single seam where a real broker SDK plugs in, receiving
        client_options() when its factory accepts them."""
        from .streaming.bus import resolve_bus

        return resolve_bus(self.client, self.bus_dir, self.client_options())


def parse_args(argv: list) -> AppConfig:
    """Parse the reference's CLI surface (``produce``/``consume`` command +
    ``--flag=value`` kingpin-style flags) into an AppConfig."""
    if not argv:
        raise ValueError("missing command: produce | consume")
    cfg = AppConfig(mode=argv[0], bus_dir="")
    flag_map = {
        "pulsar.topic": "bus_dir",
        "pulsar.serializer": "serializer",
        "web.write-path": "drop_dir",
        "web.listen": "listen",
        "web.telemetry-path": "telemetry_path",
        "remote-write.url": "remote_write_url",
        "pulsar.subscription": "subscription",
        "pulsar.client": "client",
        "pulsar.url": "pulsar_url",
        "pulsar.certificate-authority": "certificate_authority",
        "pulsar.client-certificate": "client_certificate",
        "pulsar.client-key": "client_key",
        "work-dir": "work_dir",
        "dlq-dir": "dlq_dir",
        "poison-dir": "poison_dir",
        "log.level": "log_level",
        "log.format": "log_format",
    }
    bool_flags = {
        "pulsar.insecure-skip-tls-verify": "insecure_skip_tls_verify",
        "pulsar.insecure-skip-tls-validate-hostname": (
            "insecure_skip_tls_validate_hostname"
        ),
    }
    for arg in argv[1:]:
        if not arg.startswith("--") or "=" not in arg:
            raise ValueError(f"unrecognized argument {arg!r}")
        name, _, value = arg[2:].partition("=")
        if name in bool_flags:
            setattr(cfg, bool_flags[name], value.lower() in ("1", "true", "yes"))
        elif name == "pulsar.connection-timeout":
            cfg.connect_timeout_s = _duration_ms(value) / 1000.0
        elif name == "web.max-connection-age":
            cfg.max_connection_age_s = _duration_ms(value) / 1000.0
        elif name == "pulsar.max-connections-per-broker":
            cfg.max_connections_per_broker = int(value)
        elif name == "replica-label":  # repeatable (produce.go:49-50)
            if cfg.replica_labels == ["__replica__"]:
                cfg.replica_labels = []
            cfg.replica_labels.append(value)
        elif name == "batch-max-delay":
            cfg.batch_max_delay_ms = int(_duration_ms(value))
        elif name == "batch-size":
            cfg.batch_size = int(value)
        elif name == "send-timeout":
            cfg.send_timeout_s = _duration_ms(value) / 1000.0
        elif name == "consume.dedup-within":
            cfg.dedup_within_ms = int(_duration_ms(value))
        elif name == "continuous":
            cfg.trigger_once = value.lower() not in ("1", "true", "yes")
        elif name in flag_map:
            setattr(cfg, flag_map[name], value)
        else:
            raise ValueError(f"unknown flag --{name}")
    return cfg.validate()


def _duration_ms(text: str) -> float:
    """Go-style duration strings ('30s', '5m', '250ms') to milliseconds."""
    units = (("ms", 1.0), ("s", 1000.0), ("m", 60_000.0), ("h", 3_600_000.0))
    for suffix, mult in units:
        if text.endswith(suffix) and (suffix != "s" or not text.endswith("ms")):
            return float(text[: -len(suffix)]) * mult
    return float(text)  # bare number = ms


def run(spark: SparkSession, cfg: AppConfig):
    """Run one command to completion (trigger_once) or start it
    (continuous); returns the StreamingQuery either way, plus the sink for
    consume mode (delivery counters / DLQ bookkeeping).

    The reference blocks inside App.Run until signalled (app.go:125-147);
    the Spark analog is the returned query's ``awaitTermination``.
    """
    cfg.validate()
    apply_logging(cfg, spark)
    if cfg.mode == "produce":
        from .streaming.produce import run_produce_pipeline

        listener = None
        if cfg.listen:
            from .sources.http_listener import RemoteWriteListener

            host, _, port = cfg.listen.partition(":")
            listener = RemoteWriteListener(
                cfg.drop_dir,
                host=host or "127.0.0.1",
                port=int(port or 0),
                max_connection_age=cfg.max_connection_age_s or None,
                telemetry_path=cfg.telemetry_path,
            )
            listener.start()
        query = run_produce_pipeline(
            spark,
            drop_dir=cfg.drop_dir,
            out_dir=cfg.bus_dir,
            checkpoint_dir=cfg._work(f"ckpt-produce-{cfg.subscription}"),
            serializer_format=cfg.serializer,
            publisher=cfg.bus().sink(),
            trigger_once=cfg.trigger_once,
            replica_labels=cfg.replica_labels,
        )
        return query, listener

    from .streaming import TRIGGER_INTERVAL_MS
    from .streaming.consume import RemoteWriteSink, run_consume_pipeline

    sink = RemoteWriteSink(
        url=cfg.remote_write_url,
        dlq_dir=cfg.dlq_dir or cfg._work("dlq"),
        post_fn=cfg.post_fn,
        batch_size=cfg.batch_size,
        send_timeout_s=cfg.send_timeout_s,
    )
    query = run_consume_pipeline(
        spark,
        in_dir=cfg.bus_dir,
        sink=sink,
        poison_dir=cfg.poison_dir or cfg._work("poison"),
        checkpoint_dir=cfg._work(f"ckpt-consume-{cfg.subscription}"),
        fmt=cfg.serializer,
        trigger_once=cfg.trigger_once,
        trigger_interval_ms=min(cfg.batch_max_delay_ms, TRIGGER_INTERVAL_MS),
        source=cfg.bus().source(spark),
        dedup_within=(
            f"{cfg.dedup_within_ms} milliseconds"
            if cfg.dedup_within_ms > 0
            else None
        ),
    )
    return query, sink
