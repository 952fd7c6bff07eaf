"""Batch ingestion drivers: OpenSky / Open-Meteo fetchers with a
pluggable transport, writing verbatim payload JSON into the raw lake
layer.

Reference semantics reproduced:
- OAuth2 client-credentials token + authenticated GET ``/states/all``
  (``/root/reference/src/extract_flights.py:42-79``);
- serverless-proxy fallback POSTing a bounding box, tolerating a
  ``None`` payload with a hard error
  (``/root/reference/src/serverless_function_call.py:4-37``,
  ``extract_flights.py:86-104``);
- per-station Open-Meteo loop where an HTTP error for one point is
  logged and skipped, never failing the batch
  (``/root/reference/src/extract_weather.py:56-92``);
- raw layer stores the payload as-is (one JSON document per fetch,
  ``extract_flights.py:66-75`` via boto3 ``save_json``) — here the
  fetch's document lines become one file in its ``date``/``hour``
  partition, written through the Hadoop FileSystem client by
  :meth:`~skysafe_datalake_spark.catalog.LakeCatalog.write_file` (no
  Spark job; any URI scheme the session can read). The format stage
  reads them back through Spark with a fixed schema, partition-pruned
  like every other layer.

The transport is a plain callable, so tests and offline runs inject
fixture payloads through the *same* token/fetch/tolerance code paths
as live HTTP; a stdlib ``urllib`` transport is provided for real use
(no third-party HTTP dependency).
"""

from __future__ import annotations

import json
import logging
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import SparkSession

from skysafe_datalake_spark.catalog import LakeCatalog

logger = logging.getLogger(__name__)

# Public endpoints (reference src/extract_flights.py:27-35,
# extract_weather.py:24-26). Overridable per-client for proxies.
OPENSKY_BASE_URL = "https://opensky-network.org/api"
OPENSKY_TOKEN_URL = (
    "https://auth.opensky-network.org/auth/realms/opensky-network"
    "/protocol/openid-connect/token"
)
OPEN_METEO_URL = "https://api.open-meteo.com/v1/forecast"

# France bounding box [lat_min, lat_max, lon_min, lon_max]
# (reference src/serverless_function_call.py:10).
FRANCE_BBOX = (41.3, 51.1, -5.1, 9.6)

# Current-weather variables requested per point (reference
# src/extract_weather.py:29-40).
WEATHER_VARIABLES = (
    "temperature_2m,relative_humidity_2m,wind_speed_10m,"
    "wind_direction_10m,wind_gusts_10m,precipitation,rain,"
    "cloud_cover,weather_code,visibility"
)

# The 6 fixed French stations (reference src/extract_weather.py:42-49).
WEATHER_POINTS: tuple[dict, ...] = (
    {"latitude": 48.709632, "longitude": 2.208563},   # Paris CDG
    {"latitude": 43.629421, "longitude": 1.367789},   # Toulouse
    {"latitude": 45.726009, "longitude": 5.090928},   # Lyon
    {"latitude": 43.434242, "longitude": 5.212784},   # Marseille
    {"latitude": 47.460152, "longitude": -0.529704},  # Nantes
    {"latitude": 50.561237, "longitude": 3.086957},   # Lille
)


class HttpError(RuntimeError):
    """HTTP-level failure (status >= 400). The weather loop tolerates
    it per point; everything else propagates it."""


class IngestError(RuntimeError):
    """Transport returned no usable payload (reference
    extract_flights_main raising on a None Lambda response)."""


# Transport protocol: (method, url, *, params, data, json_body,
# headers, timeout) -> parsed JSON payload. Raise HttpError on HTTP
# failure. Any callable with this shape works — fixture closures in
# tests, urllib in production.
Transport = Callable[..., dict]


def urllib_transport(method: str, url: str, *, params=None, data=None,
                     json_body=None, files=None, headers=None,
                     timeout=30.0) -> dict:
    """Stdlib transport: form-POST (token flow), JSON-POST (proxy),
    multipart file upload (Kibana saved-objects import), or GET with
    query params. EVERY transport failure — HTTP status errors AND
    connection-level ones (refused/reset/DNS, the dominant failure
    while a service is still booting) — surfaces as ``HttpError`` so
    retry loops like ``serving.kibana.wait_for_kibana`` can catch one
    type."""
    import urllib.error
    import urllib.parse
    import urllib.request
    import uuid

    if params:
        url = url + "?" + urllib.parse.urlencode(params)
    body = None
    hdrs = dict(headers or {})
    if files is not None:  # multipart/form-data (file upload)
        boundary = uuid.uuid4().hex
        parts = []
        for field_name, (filename, content) in files.items():
            if isinstance(content, str):
                content = content.encode()
            parts.append(
                (
                    f"--{boundary}\r\n"
                    f'Content-Disposition: form-data; name="{field_name}"; '
                    f'filename="{filename}"\r\n'
                    "Content-Type: application/octet-stream\r\n\r\n"
                ).encode()
                + content
                + b"\r\n"
            )
        body = b"".join(parts) + f"--{boundary}--\r\n".encode()
        hdrs["Content-Type"] = f"multipart/form-data; boundary={boundary}"
    elif data is not None:  # form-encoded (OAuth2 token request)
        body = urllib.parse.urlencode(data).encode()
        hdrs.setdefault("Content-Type", "application/x-www-form-urlencoded")
    elif json_body is not None:
        body = json.dumps(json_body).encode()
        hdrs.setdefault("Content-Type", "application/json")
    req = urllib.request.Request(url, data=body, headers=hdrs, method=method)
    try:
        with urllib.request.urlopen(req, timeout=timeout) as resp:
            return json.loads(resp.read().decode())
    except urllib.error.HTTPError as exc:  # pragma: no cover - needs network
        raise HttpError(f"{method} {url} -> {exc.code}") from exc
    except urllib.error.URLError as exc:
        # connection refused / reset / DNS: the service isn't up yet
        raise HttpError(f"{method} {url} -> {exc.reason}") from exc


def _utcnow() -> datetime:
    return datetime.now(timezone.utc)


@dataclass
class OpenSkyClient:
    """States-vector fetcher: direct OAuth2+GET (reference S1) or
    serverless-proxy POST (S2) when ``proxy_url`` is set."""

    transport: Transport
    client_id: str = ""
    client_secret: str = ""
    base_url: str = OPENSKY_BASE_URL
    token_url: str = OPENSKY_TOKEN_URL
    proxy_url: str | None = None
    bounding_box: Sequence[float] = FRANCE_BBOX
    clock: Callable[[], datetime] = field(default=_utcnow)

    def get_token(self) -> str:
        """OAuth2 client-credentials flow (reference
        extract_flights.py:42-52)."""
        token_data = self.transport(
            "POST",
            self.token_url,
            data={
                "grant_type": "client_credentials",
                "client_id": self.client_id,
                "client_secret": self.client_secret,
            },
        )
        logger.info(
            "OpenSky token obtained (expires in %s s)",
            token_data.get("expires_in"),
        )
        return token_data["access_token"]

    def fetch_states(self) -> dict:
        """One snapshot payload ``{time, states[[...]], _extracted_at}``."""
        if self.proxy_url is not None:
            payload = self.transport(
                "POST",
                self.proxy_url,
                json_body={"bounding_box": list(self.bounding_box)},
                timeout=60.0,
            )
        else:
            payload = self.transport(
                "GET",
                self.base_url + "/states/all",
                headers={"Authorization": "Bearer " + self.get_token()},
                timeout=30.0,
            )
        if payload is None:
            raise IngestError("flight source returned no payload")
        payload = dict(payload)
        payload["_extracted_at"] = self.clock().isoformat()
        logger.info("flights extracted: %d", len(payload.get("states") or []))
        return payload


@dataclass
class OpenMeteoClient:
    """Per-point current-weather fetcher with per-point HTTP-error
    tolerance (reference extract_weather.py:56-92)."""

    transport: Transport
    base_url: str = OPEN_METEO_URL
    clock: Callable[[], datetime] = field(default=_utcnow)

    def fetch_point(self, latitude: float, longitude: float) -> dict:
        payload = self.transport(
            "GET",
            self.base_url,
            params={
                "latitude": latitude,
                "longitude": longitude,
                "current": WEATHER_VARIABLES,
            },
            timeout=30.0,
        )
        payload = dict(payload)
        payload["_extracted_at"] = self.clock().isoformat()
        return payload

    def fetch_all(self) -> list[dict]:
        results = []
        for point in WEATHER_POINTS:
            lat, lon = point["latitude"], point["longitude"]
            try:
                results.append(self.fetch_point(lat, lon))
            except HttpError as exc:
                # One dead station must not fail the batch.
                logger.warning("weather error for (%.4f, %.4f): %s", lat, lon, exc)
        return results


def write_raw_payloads(
    spark: SparkSession,
    catalog: LakeCatalog,
    payloads: Sequence[dict],
    source: str,
    entity: str,
    *,
    ts: datetime | None = None,
) -> str:
    """Write payload documents verbatim (one JSON line each) into the
    raw layer as one file through the Hadoop FileSystem client
    (:meth:`LakeCatalog.write_file`), no Spark job — the reference's
    ``save_json`` contract, with the catalog's ``date``/``hour``
    partitions in place of its path arithmetic. A fetch with no
    documents replaces the partition with an empty file."""
    data = "".join(json.dumps(p, separators=(",", ":")) + "\n" for p in payloads)
    return catalog.write_file(spark, data.encode(), "raw", source, entity, ts=ts)


def extract_flights(
    spark: SparkSession,
    catalog: LakeCatalog,
    client: OpenSkyClient,
    *,
    ts: datetime | None = None,
) -> str:
    """DAG task 'extract_flights_api' (reference
    dags/sky_safe_dag.py:37-43 → extract_flights.py:86-104)."""
    payload = client.fetch_states()
    return write_raw_payloads(
        spark, catalog, [payload], "opensky", "flights", ts=ts
    )


def extract_weather(
    spark: SparkSession,
    catalog: LakeCatalog,
    client: OpenMeteoClient,
    *,
    ts: datetime | None = None,
) -> str:
    """DAG task 'extract_weather_api' (reference
    dags/sky_safe_dag.py:45-50 → extract_weather.py:71-92). One JSON
    line per station document."""
    payloads = client.fetch_all()
    return write_raw_payloads(
        spark, catalog, payloads, "open_meteo", "weather", ts=ts
    )
