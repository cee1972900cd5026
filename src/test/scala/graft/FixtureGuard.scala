package graft

/** The reference fixtures (FIXTURES.md) live outside the repo, and the
  * specs that pin their exact bytes can only run where they exist:
  * `assumeFile` cancels such a test, naming the path, when the file is
  * absent, and lets it run on its own assertions everywhere else.
  */
object FixtureGuard {
  def assumeFile(path: String): Unit =
    org.scalatest.Assertions.assume(new java.io.File(path).isFile,
      s"$path absent")
}
