"""OpenAPI 3 description of the served HTTP surface.

The reference ships a hand-written document (api/datahub.oas3.yml:
20 paths, 16 component schemas) as a repo file; this engine GENERATES
the equivalent document from the server's route table (server.ROUTES,
the same table ``UdaServer`` dispatches every request by) and serves
it at ``GET /api`` — the machine-readable form a client generator
actually wants. A route that needs an optional service contributes its
path only when that service is attached to the UdaServer (scheduler ->
/jobs*, content -> /content*, security -> /security*, providers ->
/provider*), so the document always describes exactly the routes that
dispatch on THIS server instance, never a superset.

Schema names follow the reference document (ServiceInfo, Entity,
Query, QueryResponse, Job, Content, LoginProvider, ...) with the wire
shapes this server actually emits (UDA pages are JSON arrays
``[@context, entity..., @continuation]``; see server.py).
"""

from __future__ import annotations

import re
from typing import Any

from datahub_spark.server import ROUTES

# ---------------------------------------------------------------------------
# component schemas (names per api/datahub.oas3.yml:components.schemas)

_ID = {"type": "string", "description": "CURIE or full URI"}

SCHEMAS: dict[str, dict] = {
    "ServiceInfo": {
        "type": "object",
        "properties": {"name": {"type": "string"},
                       "location": {"type": "string"}},
        "required": ["name", "location"],
    },
    "Context": {
        "type": "object",
        "description": "namespace prefix -> expansion URI",
        "additionalProperties": {"type": "string"},
    },
    "Value": {
        "description": "any JSON value (property values are untyped)",
        "nullable": True,
    },
    "Entity": {
        "type": "object",
        "properties": {
            "id": _ID,
            "recorded": {"type": "integer", "format": "int64"},
            "deleted": {"type": "boolean"},
            "props": {"type": "object",
                      "additionalProperties":
                          {"$ref": "#/components/schemas/Value"}},
            "refs": {"type": "object",
                     "additionalProperties": {}},
        },
        "required": ["id"],
    },
    "Entities": {
        "type": "array",
        "description": "UDA page: [@context, entity..., @continuation]",
        "items": {"$ref": "#/components/schemas/Entity"},
    },
    "NextToken": {
        "type": "object",
        "properties": {"id": {"type": "string", "enum": ["@continuation"]},
                       "token": {"type": "string"}},
        "required": ["token"],
    },
    "Query": {
        "type": "object",
        "properties": {
            "entityId": _ID,
            "startingEntities": {"type": "array", "items": _ID},
            "predicate": _ID,
            "inverse": {"type": "boolean"},
            "datasets": {"type": "array", "items": {"type": "string"}},
            "details": {"type": "boolean"},
            "limit": {"type": "integer"},
            "continuations": {"type": "array",
                              "items": {"type": "string"}},
        },
    },
    "QueryResponse": {
        "type": "array",
        "description": "[@context, merged-entity] for entityId lookups; "
                       "[@context, [from, predicate, entity]...] for "
                       "traversals",
        "items": {},
    },
    "Datasets": {
        "type": "array",
        "items": {"type": "object",
                  "properties": {"Name": {"type": "string"}},
                  "required": ["Name"]},
    },
    "Job": {
        "type": "object",
        "description": "reference JobConfiguration JSON, stored verbatim "
                       "(jobs.py:register_config)",
        "properties": {
            "id": {"type": "string"},
            "title": {"type": "string"},
            "triggers": {"type": "array", "items": {"type": "object"}},
            "paused": {"type": "boolean"},
            "source": {"type": "object"},
            "transform": {"type": "object"},
            "sink": {"type": "object"},
        },
        "required": ["id"],
    },
    "Jobs": {"type": "array", "items": {"$ref": "#/components/schemas/Job"}},
    "JobResponse": {
        "type": "object",
        "properties": {"jobId": {"type": "string"}},
        "required": ["jobId"],
    },
    "JobStatus": {
        "type": "object",
        "properties": {"jobId": {"type": "string"},
                       "jobTitle": {"type": "string"},
                       "started": {"type": "string",
                                   "format": "date-time"}},
    },
    "Content": {
        "type": "object",
        "properties": {"id": {"type": "string"},
                       "data": {"type": "object"}},
        "required": ["id"],
    },
    "Contents": {"type": "array",
                 "items": {"$ref": "#/components/schemas/Content"}},
    "LoginProvider": {
        "type": "object",
        "properties": {
            "name": {"type": "string"},
            "type": {"type": "string"},
            "user": {"type": "object"},
            "password": {"type": "object"},
            "key": {"type": "object"},
            "secret": {"type": "object"},
            "audience": {"type": "object"},
            "endpoint": {"type": "object"},
        },
        "required": ["name"],
    },
    "LoginProviders": {
        "type": "array",
        "items": {"$ref": "#/components/schemas/LoginProvider"},
    },
    "DatasetInfo": {
        "type": "object",
        "properties": {"Name": {"type": "string"},
                       "items": {"type": "integer"}},
    },
    "Statistics": {
        "type": "object",
        "description": "per-dataset size/version/tombstone counters "
                       "(store.py:statistics)",
        "additionalProperties": {"type": "object"},
    },
    "TransactionRequest": {
        "type": "object",
        "description": "{'@context': {...}, '<dataset>': [entity...]} — "
                       "multi-dataset atomic write (server.py:_post_"
                       "transaction, streamparser.go:53)",
        "additionalProperties": {},
    },
    "CompactionRequest": {
        "type": "object",
        "properties": {"dataset": {"type": "string"},
                       "strategy": {"type": "string",
                                    "enum": ["deduplication",
                                             "deduplicate"]},
                       "keepVersions": {"type": "integer"},
                       "gcHorizon": {"type": "integer"}},
        "required": ["dataset", "strategy"],
    },
    "Error": {
        "type": "object",
        "properties": {"message": {"type": "string"}},
    },
}

def _operation(route, secured: bool) -> dict:
    op: dict[str, Any] = {
        "summary": route.summary,
        "tags": [route.tag],
        "responses": {"200": {"description": "OK"}},
    }
    params = [{"name": m, "in": "path", "required": True,
               "schema": {"type": "string"}}
              for m in re.findall(r"\{([^}]+)\}", route.path)]
    if params:
        op["parameters"] = params
        op["responses"]["404"] = {
            "description": "no such resource",
            "content": {"application/json": {
                "schema": {"$ref": "#/components/schemas/Error"}}}}
    if route.request is not None:
        op["requestBody"] = {
            "required": True,
            "content": {"application/json": {
                "schema": {"$ref": f"#/components/schemas/{route.request}"}}}}
    if route.response is not None:
        op["responses"]["200"] = {
            "description": "OK",
            "content": {"application/json": {
                "schema": {"$ref": f"#/components/schemas/{route.response}"}}}}
    if secured and not route.open:
        op["security"] = [{"BearerAuth": []}]
    return op


def openapi_document(server) -> dict:
    """OAS 3.0.3 document for exactly the routes that dispatch on this
    UdaServer instance (api/datahub.oas3.yml is the reference shape)."""
    paths: dict[str, dict] = {}
    for route in ROUTES:
        if route.service and getattr(server, route.service) is None:
            continue
        paths.setdefault(route.path, {})[route.method.lower()] = _operation(
            route, server.security is not None)
    port = server._httpd.server_address[1] if server._httpd else 0
    doc: dict[str, Any] = {
        "openapi": "3.0.3",
        "info": {
            "title": "DataHub (PySpark) API documentation",
            "description": "Semantic entity graph store with jobs "
                           "engine, transformation and query, served "
                           "over the universal-data-api protocol",
            "version": "0.10.0",
        },
        "servers": [{"url": f"http://{server._host}:{port}"}],
        "paths": paths,
        "components": {"schemas": dict(SCHEMAS)},
    }
    if server.security is not None:
        doc["components"]["securitySchemes"] = {
            "BearerAuth": {"type": "http", "scheme": "bearer",
                           "bearerFormat": "JWT"}}
    return doc
