"""Login/token providers for outgoing connections + the served
/security/clients and /provider management surface.

Reference parity: internal/security/login_provider.go (ProviderConfig,
ValueReader, persistence), token.go (TokenProviders registry),
clientcredentialsprovider.go (OAuth2 exchange + caching),
web/providerhandler.go and web/securityhandler.go (routes, masking)."""

from __future__ import annotations

import json
import urllib.error
import urllib.parse
import urllib.request

import pytest

from datahub_spark import store as S
from datahub_spark.providers import (
    BasicProvider, ProviderConfig, ProviderStore, load_value,
)
from datahub_spark.script import SCRIPT_OUTPUT_SCHEMA
from datahub_spark.security import AccessControl, SecurityManager
from datahub_spark.server import UdaServer


def _req(url, method="GET", token=None, payload=None, form=None):
    headers = {}
    if form is not None:
        data = urllib.parse.urlencode(form).encode()
        headers["Content-Type"] = "application/x-www-form-urlencoded"
    elif payload is not None:
        data = json.dumps(payload).encode()
        headers["Content-Type"] = "application/json"
    else:
        data = None
    if token:
        headers["Authorization"] = f"Bearer {token}"
    req = urllib.request.Request(url, data=data, method=method,
                                 headers=headers)
    try:
        with urllib.request.urlopen(req, timeout=30) as resp:
            return resp.status, json.loads(resp.read().decode() or "{}")
    except urllib.error.HTTPError as exc:
        return exc.code, json.loads(exc.read().decode() or "{}")


# -- config / value readers ------------------------------------------------

def test_provider_config_json_roundtrip_and_masking():
    obj = {"name": "ext", "type": "bearer",
           "key": {"type": "text", "value": "cid"},
           "secret": {"type": "text", "value": "sh"},
           "endpoint": {"type": "text", "value": "http://x/token"}}
    cfg = ProviderConfig.from_json(obj)
    assert cfg.to_json() == obj
    masked = cfg.to_json(mask=True)
    assert masked["secret"]["value"] == "*****"
    assert masked["key"]["value"] == "cid"  # only secret/password mask
    # masking must not corrupt the stored reader
    assert cfg.to_json()["secret"]["value"] == "sh"
    with pytest.raises(ValueError, match="name"):
        ProviderConfig.from_json({"type": "basic"})


def test_load_value_text_and_env(monkeypatch):
    assert load_value({"type": "text", "value": "abc"}) == "abc"
    monkeypatch.setenv("PROV_TEST_SECRET", "from-env")
    assert load_value({"type": "env", "value": "PROV_TEST_SECRET"}) == "from-env"
    assert load_value({"type": "env", "value": "PROV_TEST_UNSET"}) == ""
    assert load_value(None) == ""


def test_basic_provider_sets_basic_auth_header():
    p = BasicProvider("u", "pw")
    req = urllib.request.Request("http://x/")
    p.authorize(req)
    import base64
    assert req.get_header("Authorization") == \
        "Basic " + base64.b64encode(b"u:pw").decode()


# -- store CRUD + persistence ----------------------------------------------

def test_provider_store_crud_and_restart(tmp_path):
    path = str(tmp_path / "providers.json")
    ps = ProviderStore(path=path)
    ps.add(ProviderConfig.from_json(
        {"name": "Login1", "type": "basic",
         "user": {"type": "text", "value": "u"},
         "password": {"type": "text", "value": "pw"}}))
    # keys are lower-cased (token.go:39-41)
    assert ps.get_config("login1", mask=False)["user"]["value"] == "u"
    with pytest.raises(KeyError):
        ps.update("nope", ProviderConfig("nope"))
    ps.update("Login1", ProviderConfig.from_json(
        {"name": "ignored", "type": "basic",
         "user": {"type": "text", "value": "u2"}}))
    assert ps.get_config("Login1", mask=False)["user"]["value"] == "u2"
    assert ps.get_config("Login1")["name"] == "Login1"  # path name wins

    # restart from the sidecar file
    ps2 = ProviderStore(path=path)
    assert [p["name"] for p in ps2.list()] == ["Login1"]
    ps2.delete("login1")
    with pytest.raises(KeyError):
        ps2.get_config("Login1")
    assert ProviderStore(path=path).list() == []


def test_node_bearer_provider_signs_with_local_key():
    from datahub_spark.security import jwt_verify

    sm = SecurityManager(node_id="nodeA")
    ps = ProviderStore(security_manager=sm)
    ps.add(ProviderConfig.from_json({"name": "peer", "type": "nodebearer"}))
    tok = ps.provider("peer").bearer_token()
    claims = jwt_verify(tok, sm._key)
    assert claims["sub"] == "node:nodeA"
    assert "admin" in claims["roles"]


# -- served surface --------------------------------------------------------

@pytest.fixture
def secured(spark, tmp_path):
    store = S.EntityStore(spark, str(tmp_path / "store"))
    df = spark.createDataFrame(
        [("e:1", None, 0, False, {"p:name": "one"}, None, None)],
        SCRIPT_OUTPUT_SCHEMA).drop("dataset")
    store.store_entities("d", df)
    sec = SecurityManager(admin_client_secret="admin-pw")
    providers = ProviderStore(path=str(tmp_path / "providers.json"),
                              security_manager=sec)
    srv = UdaServer(store, security=sec, providers=providers)
    base = srv.start()
    yield base, sec, providers
    srv.stop()


def _admin_token(base):
    _, body = _req(f"{base}/security/token", "POST",
                   payload={"client_id": "admin",
                            "client_secret": "admin-pw"})
    return body["access_token"]


def test_token_endpoint_accepts_oauth2_form(secured):
    base, _, _ = secured
    code, body = _req(f"{base}/security/token", "POST",
                      form={"grant_type": "client_credentials",
                            "client_id": "admin",
                            "client_secret": "admin-pw"})
    assert code == 200 and body["token_type"] == "Bearer"
    code, _ = _req(f"{base}/security/token", "POST",
                   form={"grant_type": "password", "client_id": "admin",
                         "client_secret": "admin-pw"})
    assert code == 400


def test_client_registration_and_acl_over_http(secured):
    base, sec, _ = secured
    tok = _admin_token(base)

    code, _ = _req(f"{base}/security/clients", "POST", token=tok,
                   payload={"ClientId": "c1", "ClientSecret": "c1-pw"})
    assert code == 200
    code, clients = _req(f"{base}/security/clients", token=tok)
    assert code == 200 and clients["c1"]["ClientId"] == "c1"

    code, _ = _req(f"{base}/security/clients/c1/acl", "POST", token=tok,
                   payload=[{"Resource": "/datasets/d*", "Action": "read"}])
    assert code == 200
    code, acls = _req(f"{base}/security/clients/c1/acl", token=tok)
    assert code == 200 and acls == [{"Resource": "/datasets/d*",
                                     "Action": "read", "Deny": False}]

    # the registered client can now use its ACL end-to-end
    code, body = _req(f"{base}/security/token", "POST",
                      payload={"client_id": "c1", "client_secret": "c1-pw"})
    c1 = body["access_token"]
    assert _req(f"{base}/datasets/d/entities", token=c1)[0] == 200
    assert _req(f"{base}/datasets/d/entities", "POST", token=c1,
                payload=[])[0] == 403

    # DELETE acl wipes access (securityhandler.go:142-149)
    code, _ = _req(f"{base}/security/clients/c1/acl", "DELETE", token=tok)
    assert code == 200
    assert _req(f"{base}/datasets/d/entities", token=c1)[0] == 403

    # registration with Deleted=true removes the client
    code, _ = _req(f"{base}/security/clients", "POST", token=tok,
                   payload={"ClientId": "c1", "Deleted": True})
    assert code == 200
    assert "c1" not in _req(f"{base}/security/clients", token=tok)[1]


def test_provider_logins_over_http_with_masking(secured):
    base, _, _ = secured
    tok = _admin_token(base)
    cfg = {"name": "ext", "type": "bearer",
           "key": {"type": "text", "value": "cid"},
           "secret": {"type": "text", "value": "very-secret"},
           "endpoint": {"type": "text", "value": "http://x/token"}}
    assert _req(f"{base}/provider/logins", "POST", token=tok,
                payload=cfg)[0] == 200
    code, listed = _req(f"{base}/provider/logins", token=tok)
    assert code == 200 and listed[0]["secret"]["value"] == "*****"
    code, got = _req(f"{base}/provider/login/ext", token=tok)
    assert code == 200 and got["secret"]["value"] == "*****"

    # update via POST /provider/login/{name}; body name is overridden
    cfg2 = dict(cfg, type="basic")
    del cfg2["name"]
    assert _req(f"{base}/provider/login/ext", "POST", token=tok,
                payload=cfg2)[0] == 200
    assert _req(f"{base}/provider/login/ext", token=tok)[1]["type"] == "basic"

    assert _req(f"{base}/provider/login/nope", token=tok)[0] == 404
    assert _req(f"{base}/provider/login/nope", "POST", token=tok,
                payload={"type": "basic"})[0] == 404
    assert _req(f"{base}/provider/login/ext", "DELETE", token=tok)[0] == 200
    assert _req(f"{base}/provider/login/ext", token=tok)[0] == 404


def test_client_credentials_provider_end_to_end(secured):
    """A bearer login provider exchanges its credentials against the
    served /security/token endpoint (OAuth2 form-encoded) and the token
    it caches opens an ACL'd dataset read — the full outgoing-auth loop
    the reference drives between datahub nodes."""
    base, sec, providers = secured
    sec.add_client("syncer", "syncer-pw")
    sec.set_acls("syncer", [AccessControl("/datasets/d*", "read")])
    providers.add(ProviderConfig.from_json({
        "name": "peerlogin", "type": "bearer",
        "key": {"type": "text", "value": "syncer"},
        "secret": {"type": "text", "value": "syncer-pw"},
        "endpoint": {"type": "text", "value": f"{base}/security/token"}}))

    # the jobs-engine adapter shape: zero-arg callable -> raw token
    token_cb = providers.token_callable("peerlogin")
    tok = token_cb()
    assert _req(f"{base}/datasets/d/entities", token=tok)[0] == 200

    # cached until expiry: a second call must not re-exchange
    prov = providers.provider("peerlogin")
    prov._fetch = lambda: (_ for _ in ()).throw(AssertionError("refetched"))
    assert token_cb() == tok


def test_secured_node_to_node_sync_via_provider(secured, spark):
    """The reference's inter-node sync story end-to-end: node A pulls a
    secured node B's /changes feed with HttpDatasetSource, whose bearer
    token comes from a registered login provider that exchanges
    client-credentials against node B's own token endpoint."""
    from datahub_spark.jobs import HttpDatasetSource

    base, sec, providers = secured
    sec.add_client("nodeA", "nodeA-pw")
    sec.set_acls("nodeA", [AccessControl("/datasets/d*", "read")])
    providers.add(ProviderConfig.from_json({
        "name": "nodeB", "type": "bearer",
        "key": {"type": "text", "value": "nodeA"},
        "secret": {"type": "text", "value": "nodeA-pw"},
        "endpoint": {"type": "text", "value": f"{base}/security/token"}}))

    src = HttpDatasetSource(
        spark, f"{base}/datasets/d", dataset="d",
        token_provider=providers.token_callable("nodeB"),
        allow_network=True)
    rows = src.read(0)[0].collect()
    assert len(rows) == 1 and rows[0]["id"] == "e:1"

    # without the provider the same pull is rejected by the ACL layer
    bare = HttpDatasetSource(spark, f"{base}/datasets/d", dataset="d",
                             allow_network=True)
    import urllib.error
    with pytest.raises(urllib.error.HTTPError):
        bare.read(0)[0].collect()
