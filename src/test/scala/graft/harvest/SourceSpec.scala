package graft.harvest

import graft.SparkSpec

class SourceSpec extends SparkSpec {

  test("retry gives up after maxRetries (A2)") {
    var calls = 0
    val e = intercept[Source.TransientFetchException] {
      Source.withRetry(maxRetries = 2, baseDelayMs = 1) {
        calls += 1; throw new Source.TransientFetchException("always 502")
      }
    }
    assert(calls === 3) // initial + 2 retries
    assert(e.getMessage.contains("502"))
  }

  test("validateCollectionUri: fail-fast on bad scheme, warn on foreign host (A18)") {
    intercept[IllegalArgumentException] { Validate.validateCollectionUri("ftp://x") }
    intercept[IllegalArgumentException] { Validate.validateCollectionUri("") }
    assert(Validate.validateCollectionUri("http://vocab.nerc.ac.uk/collection/P01/current/").isEmpty)
    assert(Validate.validateCollectionUri("https://other.example/x").nonEmpty)
  }

  test("validateCollectionUri: rejects SPARQL-IRI breakout characters (A18)") {
    // each would escape the <...> literal in the generated page query
    Seq(
      "http://vocab.nerc.ac.uk/x> . ?s ?p ?o . <http://e",
      "http://vocab.nerc.ac.uk/x<y",
      "http://vocab.nerc.ac.uk/a b",
      "http://vocab.nerc.ac.uk/a\tb",
      "http://vocab.nerc.ac.uk/a\nb",
      "http://vocab.nerc.ac.uk/a\"b",
      "http://vocab.nerc.ac.uk/a\\b",
      "http://vocab.nerc.ac.uk/a\u0007b",
      "http://vocab.nerc.ac.uk/a{b}",
      "http://vocab.nerc.ac.uk/a|b",
      "http://vocab.nerc.ac.uk/a^b"
    ).foreach { uri =>
      val e = intercept[IllegalArgumentException] { Validate.validateCollectionUri(uri) }
      assert(e.getMessage.contains("IRI"), s"for URI: $uri")
    }
    // percent-encoded forms of the same characters are fine
    assert(Validate.validateCollectionUri(
      "http://vocab.nerc.ac.uk/a%20b%3Ec").isEmpty)
    // IRI-legal sub-delims (apostrophe) must NOT be rejected
    assert(Validate.validateCollectionUri(
      "http://vocab.nerc.ac.uk/collection/d'amico/").isEmpty)
  }
}
