"""Minimal Bearer-token + per-dataset ACL layer for UdaServer — the
subset of the reference's security manager its access-matrix
integration tests exercise (internal/security/manager.go:440-521;
internal/web/middlewares/authentication.go:208-215 token extraction;
middlewares/authorization.go doAclCheck semantics):

  * clients authenticate with Authorization: Bearer <JWT>;
  * claims carry ``sub`` (client id), ``roles``, ``exp``;
  * the ``admin`` role bypasses ACLs (authorization.go:60-64);
  * otherwise the subject's AccessControl list is consulted: a request
    is granted when ANY entry matches the path — exact resource or
    trailing-``*`` prefix pattern — with a compatible action. ``read``
    is granted by a read OR write entry ("write implies read",
    manager.go:499-504); mutating methods (POST/DELETE/PUT/PATCH)
    require ``write`` (authorization.go:73-77). A matching ``deny`` entry does not grant
    (CheckGranted returns false for it) but — faithfully to the
    reference — does not veto a different granting entry either.

Signature algorithms: the reference signs access tokens RS256 with a
node keypair (manager.go:456-476, loaded-or-generated at boot from
``node_key``/``node_key.pub`` PEM files, manager.go:204-257). Attach a
:class:`NodeKeys` and the manager signs/verifies RS256, registers
client PUBLIC KEYS, honours the OAuth2 JWT-bearer ``client_assertion``
grant (ValidateClientJWTMakeJWTAccessToken, manager.go:428-477) and key
rotation (active pair = KeyPairs[0], manager.go:398-400; superseded
public keys remain valid for verification so outstanding 15-minute
tokens survive a rotation). Without node keys the manager falls back
to JWS HS256 (HMAC-SHA256, stdlib ``hmac``) over the same claims
shape — the zero-config embedded mode. One signing path
(:func:`jwt_sign`) and one verify path (:func:`jwt_verify`) serve both
algorithms; the accepted algorithm is pinned by the VERIFIER's key
material (alg is NOT attacker-chosen — the classic JWT confusion bug).

RSA keygen, PEM key files and PKCS#1 v1.5 SHA-256 signatures come from
the ``cryptography`` package. It is imported inside the RSA code paths
only, so a server without security never loads it.
"""

from __future__ import annotations

import base64
import hashlib
import hmac
import json
import os
import secrets
import time
from dataclasses import dataclass


def _b64url(data: bytes) -> str:
    return base64.urlsafe_b64encode(data).rstrip(b"=").decode()


def _b64url_decode(text: str) -> bytes:
    return base64.urlsafe_b64decode(text + "=" * (-len(text) % 4))


class AuthError(Exception):
    """401 — missing/invalid/expired credentials."""


class ForbiddenError(Exception):
    """403 — authenticated but not granted."""


def _alg(key) -> str:
    """The JWS algorithm a key pins: HMAC secret bytes are HS256, RSA key
    material (a private key, or a list of public keys) is RS256."""
    return "HS256" if isinstance(key, (bytes, bytearray)) else "RS256"


def _pkcs1_sha256():
    from cryptography.hazmat.primitives import hashes
    from cryptography.hazmat.primitives.asymmetric import padding

    return padding.PKCS1v15(), hashes.SHA256()


def _rsa_verifies(public_key, sig: bytes, signing_input: bytes) -> bool:
    from cryptography.exceptions import InvalidSignature

    try:
        public_key.verify(sig, signing_input, *_pkcs1_sha256())
    except InvalidSignature:
        return False
    return True


def jwt_sign(claims: dict, key) -> str:
    """JWS compact token over ``claims``: HS256 (HMAC-SHA256) with secret
    bytes, RS256 (jwt.SigningMethodRS256, manager.go:320,420,471) with an
    RSA private key."""
    alg = _alg(key)
    header = _b64url(json.dumps(
        {"alg": alg, "typ": "JWT"}, separators=(",", ":")).encode())
    payload = _b64url(json.dumps(claims, separators=(",", ":")).encode())
    signing_input = f"{header}.{payload}".encode()
    if alg == "HS256":
        sig = hmac.new(key, signing_input, hashlib.sha256).digest()
    else:
        sig = key.sign(signing_input, *_pkcs1_sha256())
    return f"{header}.{payload}.{_b64url(sig)}"


def jwt_verify(token: str, key, now: float | None = None) -> dict:
    """Signature + exp check. The verifier's key pins the algorithm (the
    alg header is untrusted input; accepting attacker-chosen algorithms
    is the classic JWT confusion bug): secret bytes accept only HS256; a
    list of RSA public keys accepts only RS256 signed by ANY of them, so
    superseded node keys still validate outstanding tokens."""
    try:
        h64, p64, s64 = token.split(".")
        header = json.loads(_b64url_decode(h64))
        payload = json.loads(_b64url_decode(p64))
        sig = _b64url_decode(s64)
    except (ValueError, json.JSONDecodeError) as exc:
        raise AuthError(f"malformed token: {exc}") from exc
    if not (isinstance(header, dict) and isinstance(payload, dict)):
        raise AuthError("malformed token: header and payload must be objects")
    alg = _alg(key)
    if header.get("alg") != alg:
        raise AuthError("unsupported token algorithm")
    signing_input = f"{h64}.{p64}".encode()
    if alg == "HS256":
        expect = hmac.new(key, signing_input, hashlib.sha256).digest()
        ok = hmac.compare_digest(sig, expect)
    else:
        ok = any(_rsa_verifies(pk, sig, signing_input) for pk in key)
    if not ok:
        raise AuthError("bad token signature")
    exp = payload.get("exp")
    if exp is not None and (now if now is not None else time.time()) >= exp:
        raise AuthError("token expired")
    return payload


def jwt_sign_rs256(claims: dict, private_key) -> str:
    """:func:`jwt_sign` with an RSA private key."""
    return jwt_sign(claims, private_key)


def jwt_verify_rs256(token: str, public_keys, now: float | None = None) -> dict:
    """:func:`jwt_verify` against RSA public keys; pins RS256."""
    return jwt_verify(token, list(public_keys), now)


def jwt_unverified_claims(token: str) -> dict:
    """Payload WITHOUT signature verification — only for routing (the
    reference parses the client assertion keyless first to learn the
    subject, then re-parses with that client's key, manager.go:429-446).
    Never authorize from this."""
    try:
        _, p64, _ = token.split(".")
        payload = json.loads(_b64url_decode(p64))
    except (ValueError, json.JSONDecodeError) as exc:
        raise AuthError(f"malformed token: {exc}") from exc
    if not isinstance(payload, dict):
        raise AuthError("malformed token: payload must be an object")
    return payload


def _generate_private_key(bits: int):
    """GenerateRsaKeyPair (manager.go:133; rsautils.go:28), e=65537."""
    from cryptography.hazmat.primitives.asymmetric import rsa

    return rsa.generate_private_key(65537, bits)


def _private_key_from_pem(pem: bytes):
    from cryptography.hazmat.primitives.asymmetric import rsa
    from cryptography.hazmat.primitives.serialization import (
        load_pem_private_key,
    )

    key = load_pem_private_key(pem, password=None)
    if not isinstance(key, rsa.RSAPrivateKey):
        raise ValueError("not an RSA private key")
    return key


def _public_key_from_pem(pem: str | bytes):
    """An RSA public key from PEM: PKIX or PKCS#1 body, under either the
    ``PUBLIC KEY`` or the reference's ``RSA PUBLIC KEY`` label. Raises
    ValueError for anything else."""
    from cryptography.exceptions import UnsupportedAlgorithm
    from cryptography.hazmat.primitives.asymmetric import rsa
    from cryptography.hazmat.primitives.serialization import (
        load_pem_public_key,
    )

    try:
        key = load_pem_public_key(
            pem.encode() if isinstance(pem, str) else pem)
    except UnsupportedAlgorithm as exc:
        raise ValueError(f"not an RSA public key: {exc}") from exc
    if not isinstance(key, rsa.RSAPublicKey):
        raise ValueError("not an RSA public key")
    return key


def _private_key_pem(private_key) -> str:
    """``RSA PRIVATE KEY`` PEM (PKCS#1), as x509.MarshalPKCS1PrivateKey
    writes it (manager.go:235-249, rsautils.go:37-46)."""
    from cryptography.hazmat.primitives import serialization as ser

    return private_key.private_bytes(
        ser.Encoding.PEM, ser.PrivateFormat.TraditionalOpenSSL,
        ser.NoEncryption()).decode()


def _public_key_pem(public_key) -> str:
    """PKIX (SubjectPublicKeyInfo) bytes under the ``RSA PUBLIC KEY``
    label, as the reference writes them (rsautils.go:50-58)."""
    from cryptography.hazmat.primitives import serialization as ser

    pem = public_key.public_bytes(
        ser.Encoding.PEM, ser.PublicFormat.SubjectPublicKeyInfo).decode()
    return pem.replace(" PUBLIC KEY-----", " RSA PUBLIC KEY-----")


class NodeKeys:
    """The node's RSA keypair list — ServiceCore key handling
    (manager.go:204-257 load-or-generate; manager.go:398-400 active =
    KeyPairs[0]). ``location`` persists ``node_key`` (PKCS#1 private
    PEM, 0600) and ``node_key.pub`` (PKIX public PEM) exactly like the
    reference; omit it for an in-memory pair (tests/embedded).

    ``rotate()`` generates a fresh active pair and retains superseded
    PUBLIC keys (persisted as ``node_key.pub.<n>``) so tokens signed
    before the rotation verify until their exp passes."""

    def __init__(self, location: str | None = None, bits: int = 2048):
        self._location = location
        self._old_pubs: list = []
        key_path = os.path.join(location, "node_key") if location else None
        if key_path and os.path.exists(key_path):
            with open(key_path, "rb") as f:
                self._private = _private_key_from_pem(f.read())
            pub_path = key_path + ".pub"
            if os.path.exists(pub_path):
                with open(pub_path, "rb") as f:
                    self._public = _public_key_from_pem(f.read())
            else:
                self._public = self._private.public_key()
            idx = 1
            while os.path.exists(f"{pub_path}.{idx}"):
                with open(f"{pub_path}.{idx}", "rb") as f:
                    self._old_pubs.append(_public_key_from_pem(f.read()))
                idx += 1
        else:
            self._private = _generate_private_key(bits)
            self._public = self._private.public_key()
            self._persist()

    def _persist(self) -> None:
        if not self._location:
            return
        os.makedirs(self._location, exist_ok=True)
        key_path = os.path.join(self._location, "node_key")
        fd = os.open(key_path + ".tmp",
                     os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o600)
        with os.fdopen(fd, "w", encoding="utf-8") as f:
            f.write(_private_key_pem(self._private))
        os.replace(key_path + ".tmp", key_path)
        with open(key_path + ".pub.tmp", "w", encoding="utf-8") as f:
            f.write(_public_key_pem(self._public))
        os.replace(key_path + ".pub.tmp", key_path + ".pub")
        for i, pub in enumerate(self._old_pubs, start=1):
            with open(f"{key_path}.pub.{i}", "w", encoding="utf-8") as f:
                f.write(_public_key_pem(pub))

    @property
    def private_key(self):
        return self._private

    @property
    def public_keys(self) -> list:
        """Active first, then superseded (still-verifying) keys."""
        return [self._public, *self._old_pubs]

    def public_key_pem(self) -> str:
        return _public_key_pem(self._public)

    def rotate(self, bits: int = 2048) -> None:
        self._old_pubs.insert(0, self._public)
        self._private = _generate_private_key(bits)
        self._public = self._private.public_key()
        self._persist()


@dataclass(frozen=True)
class AccessControl:
    """manager.go:87-91 — allow or deny ``action`` on ``resource``;
    trailing ``*`` is a prefix pattern."""
    resource: str
    action: str  # "read" | "write"
    deny: bool = False


def check_granted(ac: AccessControl, resource: str, action: str) -> bool:
    """Port of ServiceCore.CheckGranted (manager.go:499-521)."""
    def action_ok() -> bool:
        if action == "read" and ac.action in ("read", "write"):
            return True
        return action == ac.action

    if ac.resource == resource:
        return action_ok() and not ac.deny
    if ac.resource.endswith("*") and \
            resource.startswith(ac.resource[:-1]):
        return action_ok() and not ac.deny
    return False


class SecurityManager:
    """Client registry + ACL store + token issuance. Attach to a
    UdaServer via ``security=``; every request then needs a Bearer
    token from ``issue_token`` / POST /security/token."""

    TOKEN_TTL_SECONDS = 15 * 60  # manager.go:464 (15-minute tokens)

    def __init__(self, admin_client_id: str = "admin",
                 admin_client_secret: str | None = None,
                 signing_key: bytes | None = None,
                 node_id: str = "node1",
                 node_keys: NodeKeys | None = None):
        self.node_id = node_id
        self._key = signing_key or secrets.token_bytes(32)
        self.node_keys = node_keys
        self._clients: dict[str, str] = {}
        self._client_pubkeys: dict[str, object] = {}
        self._acls: dict[str, list[AccessControl]] = {}
        self._admin_id = admin_client_id
        self._admin_secret = admin_client_secret or secrets.token_urlsafe(24)

    # -- token keys (RS256 with node keys, else HS256) ---------------------

    def _sign_claims(self, claims: dict) -> str:
        nk = self.node_keys
        return jwt_sign(claims, self._key if nk is None else nk.private_key)

    def _verify_token(self, token: str) -> dict:
        nk = self.node_keys
        return jwt_verify(token, self._key if nk is None else nk.public_keys)

    @property
    def admin_secret(self) -> str:
        return self._admin_secret

    # -- client / ACL management (securityhandler.go surface) -------------

    def add_client(self, client_id: str, client_secret: str) -> None:
        self._clients[client_id] = client_secret

    def delete_client(self, client_id: str) -> None:
        self._clients.pop(client_id, None)
        self._client_pubkeys.pop(client_id, None)
        self._acls.pop(client_id, None)

    def register_client(self, info: dict) -> None:
        """ServiceCore.RegisterClient (manager.go:333-347): an info with
        ``Deleted: true`` removes the client AND its ACLs; otherwise it
        is stored/overwritten. The reference's ClientInfo carries a
        ``PublicKey`` PEM for RS256 client assertions — accepted here
        (and required for the JWT-bearer grant); ``ClientSecret`` is the
        shared-secret alternative for the plain credentials grant."""
        client_id = info.get("ClientId") or info.get("client_id") or ""
        if not client_id:
            raise ValueError("client registration needs a ClientId")
        if info.get("Deleted") or info.get("deleted"):
            self.delete_client(client_id)
            return
        pem = info.get("PublicKey") or info.get("public_key") or ""
        if pem:
            self._client_pubkeys[client_id] = _public_key_from_pem(pem)
        secret = info.get("ClientSecret") or info.get("client_secret") or ""
        if secret or not pem:
            self.add_client(client_id, secret)
        elif client_id not in self._clients:
            # key-only client: registered, but no usable shared secret
            self._clients[client_id] = None

    def list_clients(self) -> dict:
        """GetClients (manager.go:349-356) response shape — a map keyed
        by client id; secrets never leave the manager."""
        return {cid: {"ClientId": cid, "Deleted": False}
                for cid in sorted(self._clients)}

    def set_acls(self, client_id: str, acls: list[AccessControl]) -> None:
        self._acls[client_id] = list(acls)

    def get_acls(self, client_id: str) -> list[AccessControl]:
        return list(self._acls.get(client_id, []))

    # -- tokens -----------------------------------------------------------

    def issue_token(self, client_id: str, client_secret: str) -> str:
        """Credentials -> 15-minute Bearer JWT (manager.go:430-476's
        exchange, minus the client-JWT assertion step: shared-secret
        client auth, the node-local deployment shape)."""
        if client_id == self._admin_id:
            ok = secrets.compare_digest(client_secret, self._admin_secret)
            roles = ["admin"]
        else:
            expect = self._clients.get(client_id)
            ok = expect is not None and \
                secrets.compare_digest(client_secret, expect)
            roles = ["client"]
        if not ok:
            raise AuthError("invalid client credentials")
        return self._access_token(client_id, roles)

    def _access_token(self, subject: str, roles: list[str]) -> str:
        now = int(time.time())
        return self._sign_claims({
            "sub": subject,
            "roles": roles,
            "iss": f"node:{self.node_id}",
            "aud": f"node:{self.node_id}",
            "iat": now,
            "exp": now + self.TOKEN_TTL_SECONDS,
        })

    def exchange_client_assertion(self, assertion: str) -> str:
        """OAuth2 JWT-bearer grant —
        ValidateClientJWTMakeJWTAccessToken (manager.go:428-477): the
        assertion is parsed keyless to learn the subject, verified
        RS256 against THAT client's registered public key, and
        exchanged for a 15-minute node-signed access token with the
        ``client`` role."""
        client_id = jwt_unverified_claims(assertion).get("sub") or ""
        pub = self._client_pubkeys.get(client_id)
        if pub is None:
            raise AuthError("invalid client jwt")
        try:
            jwt_verify_rs256(assertion, [pub])
        except AuthError as exc:
            raise AuthError("invalid client jwt") from exc
        return self._access_token(client_id, ["client"])

    def create_jwt_for_token_request(self, audience: str) -> str:
        """CreateJWTForTokenRequest (manager.go:310-331): the 1-minute
        RS256 client assertion this node presents to a REMOTE node's
        token endpoint (sub = own node id, jti = unique). Requires node
        keys — assertions are asymmetric by design."""
        if self.node_keys is None:
            raise AuthError("client assertions require node keys")
        now = int(time.time())
        return jwt_sign_rs256({
            "sub": self.node_id,
            "aud": audience,
            "jti": secrets.token_hex(16),
            "exp": now + 60,
            "iat": now,
        }, self.node_keys.private_key)

    # -- request authorization (authorization.go doAclCheck) --------------

    def authorize(self, authorization_header: str | None,
                  method: str, path: str) -> dict:
        """Raises AuthError (401) / ForbiddenError (403); returns the
        verified claims on success."""
        auth = authorization_header or ""
        if not auth.startswith("Bearer ") or len(auth) <= 7:
            raise AuthError("missing bearer token")
        claims = self._verify_token(auth[7:])
        if "admin" in (claims.get("roles") or []):
            return claims
        action = "write" if method in ("POST", "DELETE", "PUT", "PATCH") \
            else "read"
        acl = self._acls.get(claims.get("sub", ""))
        if not acl:
            raise ForbiddenError("user does not have permission")
        for ac in acl:
            if check_granted(ac, path, action):
                return claims
        raise ForbiddenError("user does not have permission")


class OpaSecurityManager(SecurityManager):
    """AUTHORIZATION_MIDDLEWARE=opa (middlewares/opa.go): tokens are
    still node-issued and verified locally, but the ALLOW decision is
    delegated to an Open Policy Agent endpoint — a POST to
    ``{endpoint}/v1/data/datahub/authz/allow`` with the reference's
    input shape {method, path, token, scopes} (opa.go:48-70); a false
    ``result`` is 403 ("user has no access to resource"). For
    dataset-scoped paths a second policy query (opa.go:73-80,
    ``.../authz/datasets``) yields the permitted dataset set — list,
    or map with ``{"*": true}`` = all — enforced against the path and
    returned on the claims. The admin role does NOT bypass: with OPA
    configured, policy is the single authority, as in the reference.

    ``allow_network`` must be set by the embedder (the app config path
    does); it exists so a stored config can never make the server call
    out by default — same gate as the HTTP sources."""

    OPA_TIMEOUT_SECONDS = 1.0  # opa.go:121 (1000ms httpclient timeout)

    def __init__(self, opa_endpoint: str, allow_network: bool = False,
                 **kwargs):
        super().__init__(**kwargs)
        if not opa_endpoint:
            raise ValueError("OpaSecurityManager needs an OPA endpoint")
        self.opa_endpoint = opa_endpoint.rstrip("/")
        self.allow_network = allow_network

    def _opa_query(self, rule: str, method: str, path: str, token: str,
                   scopes: list) -> dict:
        import urllib.request

        if not self.allow_network:
            raise ForbiddenError(
                "OPA authorization requires network access "
                "(allow_network=False)")
        body = json.dumps({"input": {
            "method": method, "path": path,
            "token": token, "scopes": scopes,
        }}).encode()
        req = urllib.request.Request(
            f"{self.opa_endpoint}/v1/data/datahub/authz/{rule}",
            data=body, method="POST",
            headers={"Content-Type": "application/json"})
        try:
            with urllib.request.urlopen(
                    req, timeout=self.OPA_TIMEOUT_SECONDS) as resp:
                return json.loads(resp.read().decode() or "{}")
        except Exception as exc:  # opa.go:59-61 — any failure is 403
            raise ForbiddenError(f"opa query failed: {exc}") from exc

    @staticmethod
    def _parse_datasets(answer: dict) -> list[str]:
        """parseDatasetsFromOpaBody (opa.go:86-116): the result is
        either a dataset-name list, or a map — {"*": true} grants all,
        any other non-empty map grants its keys."""
        result = answer.get("result")
        if isinstance(result, list):
            return [d for d in result if isinstance(d, str)]
        if isinstance(result, dict):
            if result.get("*") is True:
                return ["*"]
            if result:
                return sorted(result)
        raise ForbiddenError(
            "failed to parse OPA response as either dataset list or "
            "admin privilege map")

    def authorize(self, authorization_header: str | None,
                  method: str, path: str) -> dict:
        auth = authorization_header or ""
        if not auth.startswith("Bearer ") or len(auth) <= 7:
            raise AuthError("missing bearer token")
        token = auth[7:]
        claims = self._verify_token(token)
        scopes = claims.get("roles") or []
        if not bool(self._opa_query("allow", method, path, token,
                                    scopes).get("result")):
            raise ForbiddenError("user has no access to resource")
        # second policy query (doOpaCheck, opa.go:73-80): the permitted
        # dataset set, enforced here for dataset-scoped paths and
        # returned on the claims (the reference stores it in request
        # context for its handlers)
        parts = path.strip("/").split("/")
        claims = dict(claims)
        if parts and parts[0] == "datasets" and len(parts) >= 2:
            datasets = self._parse_datasets(
                self._opa_query("datasets", method, path, token, scopes))
            if "*" not in datasets and parts[1] not in datasets:
                raise ForbiddenError("user has no access to resource")
            claims["datasets"] = datasets
        return claims
