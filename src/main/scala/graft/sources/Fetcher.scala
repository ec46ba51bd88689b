package graft.sources

/** Pluggable SBOM fetcher modeling the reference's async source control
  * flow: request a report/export → poll until ready → download.
  *
  *   - lib/github.sh:1-136 — direct download with bounded retry+backoff
  *   - lib/mend.sh:1-391 — request an export, poll the status endpoint,
  *     then download the generated document
  *   - lib/wiz.sh:1-326 — rerun a report, poll rerun status until
  *     COMPLETED/FAILED, then fetch the download URL
  *
  * The transport is abstract: the reference talks HTTPS; the zero-egress
  * sandbox (and the specs) plug in a stub. Backoff sleeps are injected so
  * specs run instantly. A fetched document lands wherever the caller
  * writes it — SbomSources' readers take over from there, so this trait
  * is exactly the missing front of that pipeline.
  */
object Fetcher {

  sealed trait PollStatus
  case object InProgress extends PollStatus
  case object Ready extends PollStatus
  final case class Aborted(reason: String) extends PollStatus

  /** One async SBOM source. Implementations are expected to be effectful
    * (network); specs use in-memory stubs.
    */
  trait Transport {
    /** Start an async report/export; returns a token (wiz rerun id, mend
      * export uuid, or a direct download token) or a transient error. */
    def request(): Either[String, String]
    /** Report generation status for a token. */
    def poll(token: String): PollStatus
    /** Download the completed document. */
    def download(token: String): Either[String, String]
    /** Refresh credentials mid-poll (mend.sh:193's JWT re-login); no-op
      * for sources whose tokens outlive any report generation. */
    def refresh(): Unit = ()
  }

  /** Sources whose documents are immediately ready (github.sh): polling
    * degenerates to a single Ready. */
  trait DirectTransport extends Transport {
    final override def poll(token: String): PollStatus = Ready
  }

  final case class Policy(
    maxRequestAttempts: Int = 3,
    maxPolls: Int = 10,
    maxDownloadAttempts: Int = 3,
    backoffMs: Seq[Long] = Seq(1000L, 2000L, 4000L),
    /** Refresh credentials every N polls during a long wait — mend.sh:193
      * re-logs-in for a fresh JWT every 25 min of report polling so the
      * eventual download doesn't fail on an expired token. None = never.
      */
    refreshEveryPolls: Option[Int] = None,
    /** How many quota windows to wait out across the whole fetch before
      * giving up. Rate-limit waits do NOT consume the bounded retry
      * budgets — a 403/429 response cannot change until the window
      * resets, so burning attempt budget on it is pure loss — but they
      * must themselves be bounded or a permanently-throttled token spins
      * forever.
      */
    maxRateLimitWaits: Int = 3) {
    require(backoffMs.nonEmpty, "Policy.backoffMs must not be empty")
    require(maxRequestAttempts >= 1 && maxPolls >= 1 && maxDownloadAttempts >= 1,
      "Policy budgets must be at least 1")
    require(refreshEveryPolls.forall(_ >= 1), "refreshEveryPolls must be at least 1")
    require(maxRateLimitWaits >= 0, "maxRateLimitWaits must be non-negative")
  }

  /** The reference's retryable-error rule (github.sh:77): only GitHub's
    * SBOM-generation timeouts re-enter the retry loop — "Request timed
    * out", "Failed to generate SBOM", or any message containing
    * "timeout". Every other API error (bad credentials, missing repo,
    * dependency graph disabled) aborts immediately rather than burning
    * the attempt budget on a response that cannot change.
    */
  val githubRetryable: String => Boolean = err =>
    err.contains("Request timed out") ||
      err.contains("Failed to generate SBOM") ||
      err.contains("timeout")

  /** The reference's downloaded-document validation (github.sh:56-69,
    * a full `jq .` parse): the payload must PARSE as JSON — a bracket
    * sniff would wave through structurally broken documents like
    * `{"a": ]`. Jackson is already on the Spark classpath; SBOM
    * documents are additionally required to be an object or array
    * (a bare scalar is valid JSON but never a valid SBOM).
    */
  private lazy val strictMapper = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    // jq . rejects trailing garbage after the document; so do we
    m.enable(com.fasterxml.jackson.databind.DeserializationFeature
      .FAIL_ON_TRAILING_TOKENS)
    m
  }

  val jsonProbe: String => Either[String, Unit] = doc => {
    try {
      val root = strictMapper.readTree(doc)
      if (root != null && (root.isObject || root.isArray)) Right(())
      else Left("downloaded document is not a JSON object or array")
    } catch {
      case _: com.fasterxml.jackson.core.JacksonException =>
        Left("downloaded document is not valid JSON")
    }
  }

  /** 403/429 quota classifier (the gap github.sh leaves open: curl
    * --retry models transport failures, not rate-limit windows). An
    * error that names HTTP 429, or GitHub's "rate limit exceeded" 403
    * body, is a QUOTA wait, not a doomed retry: returns how long to
    * wait before re-trying — the `retry-after: N` /
    * `x-ratelimit-reset-in: N` seconds when the message carries one,
    * else a 60 s default window.
    */
  val githubRateLimited: String => Option[Long] = err => {
    val l = err.toLowerCase(java.util.Locale.ROOT)
    if (l.contains("429") || l.contains("rate limit exceeded")) {
      val secs = "(?:retry-after|x-ratelimit-reset-in)[:= ]+(\\d+)".r
        .findFirstMatchIn(l).map(_.group(1).toLong)
      Some(secs.getOrElse(60L) * 1000L)
    } else None
  }

  /** How a fetch ends. [[fetch]] returns a [[TransportResult]];
    * [[fetchViaSignedUrl]] can also return [[UrlFetched]]. */
  sealed trait Result
  /** What [[fetch]] returns: the document, or the stage that gave up. */
  sealed trait TransportResult extends Result
  final case class Fetched(document: String, requestAttempts: Int, polls: Int,
    downloads: Int = 1) extends TransportResult
  final case class GaveUp(stage: String, detail: String) extends TransportResult

  /** Two-step signed-URL sources (wiz.sh:47-120 `download_wiz_report` →
    * wiz.sh:123 `download_wiz_report_from_url`; mend.sh:250
    * `download_mend_report`): authenticate, exchange the report id for a
    * SIGNED download URL, then download from that URL. Distinct from
    * [[Transport]] because the failure surface is different: the signed
    * URL (and the bearer token behind it) can EXPIRE between the
    * exchange and a long download, and the recovery is not "retry the
    * same request" but the re-auth → fresh-URL → resume choreography
    * [[fetchViaSignedUrl]] runs.
    */
  trait UrlTransport {
    /** Obtain/refresh the bearer token (wiz.sh:7 `authenticate_wiz`,
      * mend.sh:7 `authenticate_mend` — login → refreshToken → JWT). */
    def authenticate(): Either[String, Unit]
    /** Exchange the report id for a signed download URL (wiz's GraphQL
      * `lastRun.url`, mend's `reports/download/<uuid>` redirect). An
      * empty URL is an error (wiz.sh:104-110: unknown report, no
      * completed run, or an already-expired report URL). */
    def fetchUrl(): Either[String, String]
    /** Download the document behind a signed URL. */
    def download(url: String): Either[String, String]
  }

  final case class UrlFetched(document: String, urlFetches: Int,
    reauths: Int, downloads: Int) extends Result

  /** Expired-credential classifier for signed-URL downloads: HTTP 401,
    * an explicit "expired" marker (wiz.sh:107 names "Report URL has
    * expired"), or a 403 with a signature complaint (how object stores
    * report dead presigned URLs). These re-enter the re-auth
    * choreography instead of burning download retries on a credential
    * that cannot heal by waiting (mend JWTs simply time out —
    * mend.sh:193's re-login exists for exactly this).
    */
  val signedUrlExpired: String => Boolean = err => {
    val l = err.toLowerCase(java.util.Locale.ROOT)
    l.contains("401") || l.contains("expired") ||
      (l.contains("403") && l.contains("signature"))
  }

  /** Run the auth → signed-URL → download state machine.
    *
    * Semantics replayed from the reference:
    *   - auth failure is FATAL (wiz.sh:40, mend.sh exits on login
    *     failure) — bad credentials cannot improve by retrying;
    *   - URL exchange retries under `policy.maxRequestAttempts` with
    *     backoff; `retryable`=false errors (GraphQL errors, unknown
    *     report) abort immediately;
    *   - a download error classified `expired` consumes NO download
    *     budget: the credential died, not the transfer — re-auth, fetch
    *     a FRESH signed URL, and retry, at most `maxUrlRefreshes` times
    *     (a URL that expires every time means the clock skew or report
    *     retention is broken — give up loudly);
    *   - other download errors follow the [[fetch]] rules (fatal unless
    *     `retryable`; bounded by `policy.maxDownloadAttempts`;
    *     `validate` failures retry as download failures).
    */
  def fetchViaSignedUrl(transport: UrlTransport, policy: Policy = Policy(),
    sleep: Long => Unit = Thread.sleep,
    expired: String => Boolean = signedUrlExpired,
    retryable: String => Boolean = _ => true,
    validate: String => Either[String, Unit] = _ => Right(()),
    maxUrlRefreshes: Int = 2): Result = {
    def backoff(i: Int): Long =
      policy.backoffMs(math.min(i, policy.backoffMs.size - 1))

    transport.authenticate() match {
      case Left(err) => return GaveUp("auth", s"fatal: $err")
      case Right(()) => ()
    }
    var urlFetches = 0
    def freshUrl(): Either[Result, String] = {
      var attempt = 0
      var out: Option[Either[Result, String]] = None
      while (out.isEmpty) {
        attempt += 1
        urlFetches += 1
        transport.fetchUrl() match {
          case Right(u) => out = Some(Right(u))
          case Left(err) =>
            if (!retryable(err)) out = Some(Left(GaveUp("url", s"fatal: $err")))
            else if (attempt >= policy.maxRequestAttempts)
              out = Some(Left(GaveUp("url", s"$err (after $attempt attempts)")))
            else sleep(backoff(attempt - 1))
        }
      }
      out.get
    }
    freshUrl() match {
      case Left(gaveUp) => gaveUp
      case Right(url0) =>
        var url = url0
        var reauths = 0
        var downloads = 0
        var result: Option[Result] = None
        while (result.isEmpty) {
          downloads += 1
          transport.download(url) match {
            case Right(doc) => validate(doc) match {
              case Right(()) =>
                result = Some(UrlFetched(doc, urlFetches, reauths, downloads))
              case Left(verr) =>
                if (downloads >= policy.maxDownloadAttempts)
                  result = Some(GaveUp("download",
                    s"$verr (after $downloads attempts)"))
                else sleep(backoff(downloads - 1))
            }
            case Left(err) if expired(err) =>
              if (reauths >= maxUrlRefreshes)
                result = Some(GaveUp("download",
                  s"signed URL expired after $reauths refreshes: $err"))
              else {
                downloads -= 1 // the credential failed, not the transfer
                transport.authenticate() match {
                  case Left(aerr) =>
                    result = Some(GaveUp("auth", s"fatal on re-auth: $aerr"))
                  case Right(()) =>
                    reauths += 1
                    freshUrl() match {
                      case Left(gaveUp) => result = Some(gaveUp)
                      case Right(u) => url = u
                    }
                }
              }
            case Left(err) =>
              if (!retryable(err))
                result = Some(GaveUp("download", s"fatal: $err"))
              else if (downloads >= policy.maxDownloadAttempts)
                result = Some(GaveUp("download",
                  s"$err (after $downloads attempts)"))
              else sleep(backoff(downloads - 1))
          }
        }
        result.get
    }
  }

  /** Run the request → poll → download state machine under `policy`.
    *
    * `retryable` classifies transport errors: a fatal error (false) gives
    * up immediately at whatever stage it hit — the reference exits on
    * non-timeout API errors instead of sleeping through doomed retries.
    * `validate` probes a downloaded document; a validation failure counts
    * as a retryable download failure (github.sh retries invalid-JSON
    * downloads with the same backoff as network failures).
    * `rateLimited` classifies quota errors (e.g. [[githubRateLimited]]):
    * a match waits the returned millis and retries WITHOUT consuming the
    * stage's attempt budget, up to `policy.maxRateLimitWaits` windows
    * across the whole fetch.
    */
  def fetch(transport: Transport, policy: Policy = Policy(),
    sleep: Long => Unit = Thread.sleep,
    retryable: String => Boolean = _ => true,
    validate: String => Either[String, Unit] = _ => Right(()),
    rateLimited: String => Option[Long] = _ => None): TransportResult = {
    def backoff(i: Int): Long =
      policy.backoffMs(math.min(i, policy.backoffMs.size - 1))

    var rlWaits = 0
    /** Wait out a quota window if `err` is one (and budget remains). */
    def quotaWait(err: String): Option[Boolean] = rateLimited(err).map { ms =>
      if (rlWaits < policy.maxRateLimitWaits) { rlWaits += 1; sleep(ms); true }
      else false
    }

    // 1. request with bounded retry + exponential-ish backoff;
    //    non-retryable errors abort without consuming the budget
    var attempt = 0
    var token: Option[String] = None
    var lastErr = ""
    var fatal: Option[String] = None
    while (token.isEmpty && fatal.isEmpty && attempt < policy.maxRequestAttempts) {
      transport.request() match {
        case Right(tk) => token = Some(tk)
        case Left(err) => quotaWait(err) match {
          case Some(true)  => // window waited out; budget untouched
          case Some(false) => fatal = Some(
            s"rate limited after $rlWaits waited windows: $err")
          case None =>
            if (!retryable(err)) { fatal = Some(err); attempt += 1 }
            else {
              lastErr = err
              attempt += 1
              if (attempt < policy.maxRequestAttempts) sleep(backoff(attempt - 1))
            }
        }
      }
    }
    (fatal, token) match {
      case (Some(err), _) => GaveUp("request", s"fatal: $err")
      case (_, None) => GaveUp("request", s"$lastErr (after $attempt attempts)")
      case (_, Some(tk)) =>
        // 2. poll until ready / aborted / poll budget exhausted,
        //    refreshing credentials on the configured cadence
        var polls = 1
        var status = transport.poll(tk)
        while (status == InProgress && polls < policy.maxPolls) {
          sleep(backoff(0))
          policy.refreshEveryPolls.foreach(n => if (polls % n == 0) transport.refresh())
          status = transport.poll(tk)
          polls += 1
        }
        status match {
          case Ready =>
            // 3. download + validate with bounded retry; fatal errors
            //    abort immediately
            var downloads = 0
            var result: Option[TransportResult] = None
            while (result.isEmpty && downloads < policy.maxDownloadAttempts) {
              downloads += 1
              transport.download(tk) match {
                case Right(doc) =>
                  validate(doc) match {
                    case Right(()) =>
                      result = Some(Fetched(doc, attempt + 1, polls, downloads))
                    case Left(verr) =>
                      if (downloads >= policy.maxDownloadAttempts)
                        result = Some(GaveUp("download",
                          s"$verr (after $downloads attempts)"))
                      else sleep(backoff(downloads - 1))
                  }
                case Left(err) => quotaWait(err) match {
                  case Some(true) =>
                    downloads -= 1 // quota window waited; budget untouched
                  case Some(false) => result = Some(GaveUp("download",
                    s"fatal: rate limited after $rlWaits waited windows: $err"))
                  case None =>
                    if (!retryable(err))
                      result = Some(GaveUp("download", s"fatal: $err"))
                    else if (downloads >= policy.maxDownloadAttempts)
                      result = Some(GaveUp("download", s"$err (after $downloads attempts)"))
                    else sleep(backoff(downloads - 1))
                }
              }
            }
            result.get
          case InProgress  => GaveUp("poll", s"not ready after $polls polls")
          case Aborted(r)  => GaveUp("poll", r)
        }
    }
  }
}
